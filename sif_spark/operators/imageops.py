"""Image preprocessing transforms: resize / crop / grayscale / flip
over decoded arrays, and the Spark stage that applies them to blob
columns.

This is the preprocessing half of the multimodal story (decode /
feature-extract / RESIZE / frame-sample): a training-data pipeline
rarely embeds raw decoded pixels — it resizes to a model's input
geometry, crops, and normalizes first. Transforms here are pure
NumPy over the decoded (H, W[, C]) arrays that `media_decoder`
produces, composable with `compose`, and applied at scale by
`transform_blobs` (Arrow-batched mapInPandas, blob → transformed
blob) so the output is again an opaque binary column chainable into
`decode_features` / `dedup_blobs` — the reference's custom column
types stay opaque end to end (column_type.go:16-23).

Determinism contract: `resize_nearest`, `center_crop` and
`to_grayscale` are pure INTEGER arithmetic (half-pixel-center index
mapping; BT.601 with a fixed rounding), so their outputs are exactly
reproducible in ANSI SQL — the q125 oracle replays the whole
pipeline in closed form. `resize_bilinear` is float internally
(property-tested instead: identity at same size, constant and ramp
preservation).

Scale notes: one mapInPandas stage, vectorized per image, no
shuffle; images never leave their executor. Output PPM blobs are
dimensioned by the TRANSFORM (usually smaller than the input), so a
resize-early pipeline also shrinks every downstream Arrow batch —
resize before embed, always, at 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from sif_spark.operators import multimodal as mm

ImageOp = Callable[[np.ndarray], np.ndarray]


def _require_image(arr: np.ndarray) -> np.ndarray:
    a = np.asarray(arr)
    if a.ndim == 2:
        return a
    if a.ndim == 3 and a.shape[2] in (1, 2, 3, 4):
        return a
    raise ValueError(f"expected (H, W) or (H, W, C<=4) image, got {a.shape}")


def _nearest_index(out_n: int, in_n: int) -> np.ndarray:
    """Half-pixel-center nearest mapping in pure integer arithmetic:
    src = floor((dst + 0.5) * in/out) = ((2*dst + 1) * in) // (2*out).
    Always in [0, in_n)."""
    d = np.arange(out_n, dtype=np.int64)
    return (2 * d + 1) * in_n // (2 * out_n)


def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize with half-pixel centers — integer-exact
    (SQL-reproducible) and dtype-preserving."""
    a = _require_image(arr)
    if out_h <= 0 or out_w <= 0:
        raise ValueError(f"invalid output size {out_h}x{out_w}")
    mm._check_pixel_budget(out_w, out_h)
    return np.ascontiguousarray(
        a[_nearest_index(out_h, a.shape[0])][:, _nearest_index(out_w, a.shape[1])]
    )


def resize_bilinear(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Bilinear resize, half-pixel centers, edges clamped (the
    torchvision/PIL `align_corners=False` convention). uint8 in →
    uint8 out (round-half-up); other dtypes return float32."""
    a = _require_image(arr)
    if out_h <= 0 or out_w <= 0:
        raise ValueError(f"invalid output size {out_h}x{out_w}")
    mm._check_pixel_budget(out_w, out_h)
    in_h, in_w = a.shape[:2]
    sy = (np.arange(out_h, dtype=np.float64) + 0.5) * in_h / out_h - 0.5
    sx = (np.arange(out_w, dtype=np.float64) + 0.5) * in_w / out_w - 0.5
    y0 = np.clip(np.floor(sy), 0, in_h - 1).astype(np.int64)
    x0 = np.clip(np.floor(sx), 0, in_w - 1).astype(np.int64)
    y1 = np.minimum(y0 + 1, in_h - 1)
    x1 = np.minimum(x0 + 1, in_w - 1)
    wy = np.clip(sy - y0, 0.0, 1.0)[:, None]
    wx = np.clip(sx - x0, 0.0, 1.0)[None, :]
    if a.ndim == 3:
        wy = wy[:, :, None]
        wx = wx[:, :, None]
    f = a.astype(np.float64)
    top = f[y0][:, x0] * (1 - wx) + f[y0][:, x1] * wx
    bot = f[y1][:, x0] * (1 - wx) + f[y1][:, x1] * wx
    out = top * (1 - wy) + bot * wy
    if a.dtype == np.uint8:
        return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)
    return out.astype(np.float32)


def center_crop(arr: np.ndarray, crop_h: int, crop_w: int) -> np.ndarray:
    """Centered crop with the floor((in-out)/2) offset convention;
    raises (typed) if the crop exceeds the image."""
    a = _require_image(arr)
    in_h, in_w = a.shape[:2]
    if crop_h > in_h or crop_w > in_w or crop_h <= 0 or crop_w <= 0:
        raise ValueError(f"crop {crop_h}x{crop_w} invalid for {in_h}x{in_w}")
    oy = (in_h - crop_h) // 2
    ox = (in_w - crop_w) // 2
    return np.ascontiguousarray(a[oy : oy + crop_h, ox : ox + crop_w])


def to_grayscale(arr: np.ndarray) -> np.ndarray:
    """(H, W, 3) → (H, W) luma via integer BT.601 with round-half-up:
    (299 R + 587 G + 114 B + 500) // 1000 — exactly SQL-reproducible."""
    a = _require_image(arr)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"grayscale wants (H, W, 3), got {a.shape}")
    x = a.astype(np.int64)
    return (
        (299 * x[:, :, 0] + 587 * x[:, :, 1] + 114 * x[:, :, 2] + 500) // 1000
    ).astype(a.dtype)


def hflip(arr: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(_require_image(arr)[:, ::-1])


def vflip(arr: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(_require_image(arr)[::-1])


def rot90(arr: np.ndarray) -> np.ndarray:
    """90° clockwise."""
    return np.ascontiguousarray(np.rot90(_require_image(arr), k=-1, axes=(0, 1)))


def rot180(arr: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(np.rot90(_require_image(arr), k=2, axes=(0, 1)))


def rot270(arr: np.ndarray) -> np.ndarray:
    """90° counter-clockwise."""
    return np.ascontiguousarray(np.rot90(_require_image(arr), k=1, axes=(0, 1)))


def auto_orient(arr: np.ndarray, orientation: int | None) -> np.ndarray:
    """Apply the inverse of an EXIF orientation (tag 274, values 1-8)
    so the pixel array is upright — the step a pipeline must run
    BEFORE resize/crop or every phone portrait trains sideways
    (probe_media surfaces the tag). 1/None = as-is, 2 = hflip,
    3 = rot180, 4 = vflip, 5 = transpose, 6 = stored rotated 270° CW
    (undo with 90° CW), 7 = transverse, 8 = undo with 270° CW."""
    a = _require_image(arr)
    if orientation is None or orientation == 1:
        return a
    if orientation == 2:
        return hflip(a)
    if orientation == 3:
        return rot180(a)
    if orientation == 4:
        return vflip(a)
    if orientation == 5:  # transpose: out[i, j] = a[j, i]
        return np.ascontiguousarray(np.swapaxes(a, 0, 1))
    if orientation == 6:
        return rot90(a)
    if orientation == 7:  # transverse = transpose + 180
        return rot180(np.swapaxes(a, 0, 1))
    if orientation == 8:
        return rot270(a)
    raise ValueError(f"EXIF orientation must be 1-8, got {orientation}")


def compose(*ops: ImageOp) -> ImageOp:
    """Left-to-right composition: compose(f, g)(x) == g(f(x))."""

    def run(arr: np.ndarray) -> np.ndarray:
        for op in ops:
            arr = op(arr)
        return arr

    return run


def dhash64(arr: np.ndarray) -> int:
    """64-bit difference hash: grayscale (BT.601 integer) → nearest
    resize to 8×9 → bit (y, x) set iff G[y, x] > G[y, x+1], bit index
    y*8 + x. Every step is the integer-exact contract, so the hash is
    SQL-reproducible; gradients make it invariant to uniform
    brightness shifts, the classic re-encode/levels-tweak robustness
    that byte-hash dedup misses. Returned as a SIGNED 64-bit value
    (bit 63 → negative), matching Spark's LongType."""
    a = _require_image(arr)
    g = to_grayscale(a) if a.ndim == 3 else a
    small = resize_nearest(g.astype(np.int64), 8, 9)
    bits = small[:, :-1] > small[:, 1:]
    h = 0
    for y in range(8):
        for x in range(8):
            if bits[y, x]:
                h |= 1 << (y * 8 + x)
    return h - (1 << 64) if h >> 63 else h


def image_dhash(
    df: DataFrame,
    blob_col: str,
    id_col: str,
    decoder: Callable[[bytes], np.ndarray] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """(id, dhash: long) via Arrow-batched mapInPandas — the image
    analog of dedup.simhash's (id, signature) contract."""
    decoder = decoder or mm.media_decoder
    fields = [T.StructField("dhash", T.LongType())]
    return mm.blob_stage(
        df, blob_col, id_col, fields, lambda b: (dhash64(decoder(b)),), on_error
    )


def image_near_dup_pairs(
    df: DataFrame,
    blob_col: str,
    id_col: str,
    max_hamming: int = 6,
    bands: int | None = None,
    decoder: Callable[[bytes], np.ndarray] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """(id_a, id_b, hamming) — perceptual image near-dup pairs:
    per-blob dHash, then the SAME bit-banded Hamming self-join as
    text SimHash (dedup.banded_hamming_pairs — pigeonhole-exact at
    the default max_hamming + 1 bands, never all-pairs). Extends the
    dedup pillar from text to images with one decode pass and one
    banded shuffle; NULL hashes (undecodable under on_error='null')
    drop out before the join."""
    from sif_spark.operators.dedup import banded_hamming_pairs

    sigs = (
        image_dhash(df, blob_col, id_col, decoder, on_error)
        .filter(F.col("dhash").isNotNull())
        .localCheckpoint(eager=False)
    )
    return banded_hamming_pairs(sigs, id_col, "dhash", 64, max_hamming, bands)


def transform_blobs(
    df: DataFrame,
    blob_col: str,
    id_col: str,
    transform: ImageOp,
    decoder: Callable[[bytes], np.ndarray] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """(id, blob) → (id, blob) with each image decoded (sniffed
    `media_decoder` by default), transformed, and re-encoded as a P6
    PPM (P5 for 2-D results) — an opaque binary column again, so the
    stage chains into decode_features / dedup_blobs / sample_frames.
    ``on_error="null"`` emits NULL blobs on typed decode/transform
    errors (the IgnoreRowErrors lever, internal/util/operation.go:
    10-27), keeping a 100 TB preprocessing pass alive over corrupt
    inputs."""
    decoder = decoder or mm.media_decoder

    def transformed(b: bytes) -> tuple[bytes]:
        a = np.asarray(transform(decoder(b)))
        if a.dtype != np.uint8:
            raise ValueError(
                f"transform produced dtype {a.dtype}; PPM re-encode "
                "needs uint8 — clip/round inside the transform"
            )
        return (mm.encode_ppm(a),)

    fields = [T.StructField("blob", T.BinaryType())]
    return mm.blob_stage(df, blob_col, id_col, fields, transformed, on_error)
