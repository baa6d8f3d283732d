"""Audio analysis operators: windowed frame features and silence
trimming over decoded PCM.

The audio half of the preprocessing story (images got resize/crop in
imageops.py): a speech/audio corpus pipeline gates on per-frame
energy and zero-crossing rate (the classic VAD signals) before
paying for ASR or embeddings, and trims leading/trailing silence so
tokens aren't spent on dead air. Everything here runs on the int16
PCM grid (reconstructed exactly from the decoders' normalized
floats), so energy/ZCR/peak are pure INTEGER arithmetic —
SQL-reproducible, which is what lets q126 gate the whole stage
against a closed-form oracle.

Works on any blob `media_decoder` can turn into (n, ch) audio (WAV
incl. G.711/24-bit, FLAC). Multi-channel: features are computed on
channel 0 by contract — pre-mix upstream if you want a different
downmix, keeping the arithmetic integer-exact is worth the
explicitness.

Scale notes: one Arrow-batched mapInPandas stage, NumPy-vectorized
per blob, no shuffle; the FlatMap row-explosion (one row per frame)
is the same shape as sample_frames. Reference ambition: opaque
custom column types (column_type.go:16-23).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, types as T

from sif_spark.operators import multimodal as mm


def _pcm_int16(x: np.ndarray) -> np.ndarray:
    """(n, ch) float32 in [-1, 1) → exact int16 grid, channel 0."""
    v = np.clip(np.rint(x[:, 0].astype(np.float64) * 32768.0), -32768, 32767)
    return v.astype(np.int64)


def _require_frame_samples(n: int) -> None:
    if n <= 0:
        raise ValueError(f"frame_samples must be positive, got {n}")


def frame_features_np(v: np.ndarray, frame_samples: int) -> list[tuple[int, int, int, int]]:
    """Per non-overlapping window: (frame_idx, energy=Σv², zcr, peak).
    ZCR counts strict sign flips (v[i-1]·v[i] < 0) between CONSECUTIVE
    samples inside the window — window-local, so frames are
    independent and the count is partitioning-invariant. The last
    partial window is kept (its energy simply sums fewer samples)."""
    _require_frame_samples(frame_samples)
    out = []
    for f, start in enumerate(range(0, len(v), frame_samples)):
        w = v[start : start + frame_samples]
        prod = w[:-1] * w[1:]
        out.append(
            (
                f,
                int((w * w).sum()),
                int((prod < 0).sum()),
                int(np.abs(w).max()) if w.size else 0,
            )
        )
    return out


def audio_frame_features(
    df: DataFrame,
    blob_col: str,
    id_col: str,
    frame_samples: int = 1024,
    decoder: Callable[[bytes], np.ndarray] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """(id, frame_idx, energy, zcr, peak) — one row per window, the
    FlatMap shape. ``on_error="null"`` skips undecodable blobs (zero
    rows emitted), the IgnoreRowErrors lever (operation.go:10-27)."""
    # checked here, not per blob, so "null" cannot read it as corrupt blobs
    _require_frame_samples(frame_samples)
    decoder = decoder or mm.media_decoder
    fields = [
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("energy", T.LongType()),
        T.StructField("zcr", T.IntegerType()),
        T.StructField("peak", T.IntegerType()),
    ]
    return mm.blob_stage(
        df,
        blob_col,
        id_col,
        fields,
        lambda b: frame_features_np(_pcm_int16(decoder(b)), frame_samples),
        on_error,
        flat=True,
    )


def trim_silence_np(
    v: np.ndarray, frame_samples: int, peak_threshold: int
) -> tuple[int, int]:
    """First/last window whose peak EXCEEDS the threshold →
    (start_sample, end_sample) of the kept span (whole windows, so the
    cut points are deterministic). All-silent audio → (0, 0)."""
    feats = frame_features_np(v, frame_samples)
    keep = [f for f, _e, _z, p in feats if p > peak_threshold]
    if not keep:
        return 0, 0
    start = keep[0] * frame_samples
    end = min((keep[-1] + 1) * frame_samples, len(v))
    return start, end


def trim_silence(
    df: DataFrame,
    blob_col: str,
    id_col: str,
    frame_samples: int = 1024,
    peak_threshold: int = 200,
    sample_rate: int = 16000,
    decoder: Callable[[bytes], np.ndarray] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """(id, blob, kept_samples) with leading/trailing silent windows
    removed and the kept span re-encoded as 16-bit PCM WAV (an opaque
    binary column again — chainable into sample_frames /
    audio_frame_features / dedup_blobs). All-silent inputs yield a
    NULL blob and kept_samples = 0 rather than a zero-length WAV."""
    _require_frame_samples(frame_samples)
    decoder = decoder or mm.media_decoder

    def trimmed(b: bytes) -> tuple[bytes | None, int]:
        v = _pcm_int16(decoder(b))
        s, e = trim_silence_np(v, frame_samples, peak_threshold)
        if e <= s:
            return None, 0
        kept = v[s:e].astype(np.int16)
        return mm.encode_wav(kept, sample_rate=sample_rate), int(e - s)

    fields = [
        T.StructField("blob", T.BinaryType()),
        T.StructField("kept_samples", T.LongType()),
    ]
    return mm.blob_stage(df, blob_col, id_col, fields, trimmed, on_error)
