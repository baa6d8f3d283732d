"""The per-blob stage contract of the twelve media operators.

Each operator gets one frame of (a valid blob, a blob its per-blob
function rejects with a typed error, a NULL blob), all in one Arrow
batch. ``on_error="raise"`` fails the task on the rejected blob;
``on_error="null"`` keeps the valid blob's output and gives one
all-NULL row (map shape) or no rows (flat shape) for each of the other
two. The valid outputs are computed on the driver with the operators'
own per-blob functions, and the image hash sits above 2^53, so a 64-bit
column that rounds through float64 next to a NULL fails here."""

from __future__ import annotations

import io
import tarfile
import zipfile

import numpy as np
import pytest
from pyspark.sql import Row

from sif_spark.operators import audio, imageops, probe, video
from sif_spark.operators import multimodal as mm
from sif_spark.operators import webdataset as wd

IMG = np.random.default_rng(0).integers(0, 256, (16, 16, 3), dtype=np.uint8)
PPM = mm.encode_ppm(IMG)
PCM = np.concatenate(
    [
        np.zeros(1024, np.int16),
        np.random.default_rng(1).integers(-3000, 3000, 2048).astype(np.int16),
        np.zeros(1024, np.int16),
    ]
)
WAV = mm.encode_wav(PCM)
ID3 = probe.encode_id3({"TIT2": "a title", "TPE1": "an artist"})
BAD_ID3 = b"ID3\x09" + bytes(6)  # ID3v2.9: a typed ValueError
UNKNOWN = b"no media format starts like this"  # NotImplementedError
MEMBERS = [("a.txt", b"one"), ("b.txt", b"two")]


def _gif_with_cut(cut: int = 5, h: int = 8, w: int = 10) -> bytes:
    y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    base = (5 * y + 7 * x) % 120
    frames = [
        np.repeat((base + (100 if k >= cut else 0) + k)[:, :, None], 3, 2)
        for k in range(8)
    ]
    return mm.encode_gif_animation([f.astype(np.uint8) for f in frames])


def _tar(entries) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in entries:
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            tf.addfile(ti, io.BytesIO(data))
    return buf.getvalue()


def _zip(entries) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in entries:
            z.writestr(name, data)
    return buf.getvalue()


def _trimmed():
    s, e = audio.trim_silence_np(PCM.astype(np.int64), 1024, 200)
    return mm.encode_wav(PCM[s:e]), e - s


GIF = _gif_with_cut()
DHASH = imageops.dhash64(mm.media_decoder(PPM))

# name -> (call(df, on_error), valid blob, rejected blob, flat,
#          the valid blob's output rows without the id)
CASES = {
    "attach_id3": (
        lambda df, oe: probe.attach_id3(df, "blob", "id", on_error=oe),
        ID3, BAD_ID3, False, [(probe.id3_tags(ID3),)],
    ),
    "attach_audio_tags": (
        lambda df, oe: probe.attach_audio_tags(df, "blob", "id", on_error=oe),
        ID3, UNKNOWN, False, [(probe.audio_tags(ID3),)],
    ),
    "attach_probe": (
        lambda df, oe: probe.attach_probe(df, "blob", "id", on_error=oe),
        PPM, UNKNOWN, False,
        [(tuple(probe.probe_media(PPM).get(f.name) for f in probe.PROBE_SCHEMA),)],
    ),
    "image_dhash": (
        lambda df, oe: imageops.image_dhash(df, "blob", "id", on_error=oe),
        PPM, UNKNOWN, False, [(DHASH,)],
    ),
    "transform_blobs": (
        lambda df, oe: imageops.transform_blobs(
            df, "blob", "id", imageops.hflip, on_error=oe
        ),
        PPM, UNKNOWN, False, [(mm.encode_ppm(imageops.hflip(IMG)),)],
    ),
    "audio_frame_features": (
        lambda df, oe: audio.audio_frame_features(df, "blob", "id", on_error=oe),
        WAV, UNKNOWN, True,
        audio.frame_features_np(PCM.astype(np.int64), 1024),
    ),
    "trim_silence": (
        lambda df, oe: audio.trim_silence(df, "blob", "id", on_error=oe),
        WAV, UNKNOWN, False, [_trimmed()],
    ),
    "scene_cuts": (
        lambda df, oe: video.scene_cuts(df, "blob", "id", 12000, on_error=oe),
        GIF, UNKNOWN, True, [(5, 24240)],
    ),
    "untar_blobs": (
        lambda df, oe: wd.untar_blobs(df, "blob", "id", on_error=oe),
        _tar(MEMBERS), UNKNOWN, True, MEMBERS,
    ),
    "unzip_blobs": (
        lambda df, oe: wd.unzip_blobs(df, "blob", "id", on_error=oe),
        _zip(MEMBERS), UNKNOWN, True, MEMBERS,
    ),
    "decode_features": (
        lambda df, oe: mm.decode_features(df, "blob", "id", on_error=oe),
        PPM, UNKNOWN, False,
        [(mm.default_embedder(mm.media_decoder(PPM)).tolist(),)],
    ),
    "sample_frames": (
        lambda df, oe: mm.sample_frames(df, "blob", "id", every_n=1, on_error=oe),
        WAV, UNKNOWN, True, list(enumerate(mm.media_frame_decoder(WAV, 1))),
    ),
}


def _plain(v):
    """Spark row values as plain Python: Rows as tuples, binary as bytes."""
    if isinstance(v, Row):
        return tuple(_plain(x) for x in v)
    if isinstance(v, (tuple, list)):
        return type(v)(_plain(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def test_dhash_case_is_above_float_precision():
    assert abs(DHASH) > 2**53 and float(DHASH) != DHASH


@pytest.mark.parametrize("name", sorted(CASES))
def test_media_operator_blob_contract(spark, name):
    call, valid, rejected, flat, want = CASES[name]
    df = spark.createDataFrame(
        [(1, valid), (2, rejected), (3, None)], "id long, blob binary"
    ).coalesce(1)
    with pytest.raises(ValueError, match="on_error"):
        call(df, "skip")
    with pytest.raises(Exception, match="ValueError|NotImplementedError"):
        call(df, "raise").collect()
    got = sorted(
        (_plain(tuple(r)) for r in call(df, "null").collect()), key=lambda r: r[0]
    )
    rows = [(1, *_plain(tuple(w))) for w in want]
    if not flat:
        n_out = len(want[0])
        rows += [(2, *[None] * n_out), (3, *[None] * n_out)]
    assert got == rows
