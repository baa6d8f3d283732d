"""Multimodal column plumbing: metadata, sniffing, blob dedup, stubbed
decode/feature/frame-sample paths over mapInPandas."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from sif_spark.operators import multimodal as mm

PNG = b"\x89PNG\r\n\x1a\n" + bytes(range(64))
JPG = b"\xff\xd8\xff\xe0" + bytes(100)  # sniffs as jpeg, malformed
MP3 = b"ID3" + bytes(100)  # a format with NO built-in codec
RAW = b"not-a-known-format" * 4


@pytest.fixture(scope="module")
def blobs(spark):
    rows = [(0, PNG), (1, JPG), (2, RAW), (3, PNG), (4, None)]
    return spark.createDataFrame(rows, "id long, blob binary")


def test_attach_metadata(spark, blobs):
    out = {r["id"]: r["meta"] for r in mm.attach_metadata(blobs, "blob").collect()}
    assert out[0]["format"] == "png"
    assert out[1]["format"] == "jpeg"
    assert out[2]["format"] == "unknown"
    assert out[0]["n_bytes"] == len(PNG)
    assert out[0]["content_sha256"] == hashlib.sha256(PNG).hexdigest()
    assert out[4]["content_sha256"] is None


def test_dedup_blobs(spark, blobs):
    ids = sorted(
        r["id"] for r in mm.dedup_blobs(blobs.filter(F.col("blob").isNotNull()), "blob", "id").collect()
    )
    assert ids == [0, 1, 2]  # 3 is a byte-identical dup of 0


def test_decode_features_stub_gate(spark, blobs):
    # the gate moved INSIDE the sniffed dispatch (r6): compressed
    # formats without a built-in codec raise at execution time with
    # the format named (mp3 here — PNG gained a real decoder in r7,
    # JPEG in r8); a malformed jpeg fails loudly in the real decoder
    mp3_df = spark.createDataFrame([(9, MP3)], "id long, blob binary")
    with pytest.raises(Exception, match="no built-in codec"):
        mm.decode_features(mp3_df, "blob", "id").collect()
    with pytest.raises(Exception, match="JPEG"):
        mm.decode_features(blobs.filter("id = 1"), "blob", "id").collect()
    # a corrupt PNG (valid signature, garbage chunks) fails LOUDLY in
    # the real decoder, never silently produces features
    with pytest.raises(Exception, match="PNG"):
        mm.decode_features(blobs.filter("id = 0"), "blob", "id").collect()


def test_decode_features_fake(spark, blobs):
    out = {
        r["id"]: r["features"]
        for r in mm.decode_features(blobs, "blob", "id", decoder=mm.fake_decoder).collect()
    }
    assert len(out[0]) == 16
    assert out[0] == out[3]      # identical blobs → identical features
    assert out[0] != out[1]
    assert out[4] is None        # null blob → null features
    # deterministic vs local computation
    expected = mm.fake_embedder(mm.fake_decoder(PNG)).tolist()
    assert out[0] == pytest.approx(expected)


def test_sample_frames_fake(spark, blobs):
    big = spark.createDataFrame([(9, bytes(256 * 7))], "id long, blob binary")
    rows = mm.sample_frames(big, "blob", "id", every_n=2, frame_decoder=mm.fake_frame_decoder).collect()
    assert [r["frame_idx"] for r in rows] == [0, 1, 2, 3]
    assert all(len(r["frame"]) == 256 for r in rows)


def test_sample_frames_stub_gate(spark, blobs):
    with pytest.raises(Exception, match="no built-in frame decoder"):
        mm.sample_frames(blobs, "blob", "id").collect()


# -- real dependency-free codecs (round 6) ----------------------------------


def _grid(h, w, c=3, seed=0):
    import numpy as np

    return (
        (seed + np.arange(h * w * c).reshape(h, w, c) if c else seed + np.arange(h * w).reshape(h, w)) % 256
    ).astype(np.uint8)


def test_ppm_roundtrip_exact():
    import numpy as np

    img = _grid(5, 7)
    assert np.array_equal(mm.decode_ppm(mm.encode_ppm(img)), img)
    gray = _grid(4, 6, c=0)
    assert np.array_equal(mm.decode_ppm(mm.encode_ppm(gray)), gray)


def test_ppm_comments_and_16bit():
    import numpy as np

    img = _grid(2, 3)
    blob = b"P6\n# a comment\n3 2\n# another\n255\n" + img.tobytes()
    assert np.array_equal(mm.decode_ppm(blob), img)
    wide = np.array([[0, 255, 256], [1000, 65535, 7]], dtype=np.uint16)
    blob16 = b"P5\n3 2\n65535\n" + wide.astype(">u2").tobytes()
    assert np.array_equal(mm.decode_ppm(blob16), wide)


def test_bmp_roundtrip_padding_and_flip():
    import numpy as np

    # w=15 → 45-byte rows padded to 48: exercises the padding path;
    # encode stores bottom-up BGR, decode must undo both
    img = _grid(9, 15)
    assert np.array_equal(mm.decode_bmp(mm.encode_bmp(img)), img)
    # a vertically-flipped image must NOT decode equal (row order is real)
    flipped = img[::-1]
    assert not np.array_equal(mm.decode_bmp(mm.encode_bmp(flipped)), img)


def test_bmp_top_down_negative_height():
    import numpy as np

    img = _grid(3, 4)
    # encode_bmp(img[::-1]) writes (img[::-1])[::-1] = img rows to the
    # file; patching height negative (top-down) makes the decoder keep
    # the stored order — so it must return img un-flipped
    blob = bytearray(mm.encode_bmp(img[::-1]))
    blob[22:26] = (-3).to_bytes(4, "little", signed=True)
    assert np.array_equal(mm.decode_bmp(bytes(blob)), img)


def test_wav_roundtrip_exact():
    import numpy as np

    pcm = ((np.arange(2000).reshape(-1, 2) * 37) % 4001 - 2000).astype(np.int16)
    decoded = mm.decode_wav(mm.encode_wav(pcm, sample_rate=8000))
    assert decoded.shape == (1000, 2)
    back = np.rint(decoded.astype(np.float64) * 32768.0).astype(np.int16)
    assert np.array_equal(back, pcm)


def test_wav_chunk_walk_and_8bit():
    import numpy as np

    # extra LIST chunk with ODD size before fmt/data: the walker must
    # honor the pad byte
    pcm = np.arange(6, dtype=np.int16)
    base = mm.encode_wav(pcm)
    extra = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\0"
    blob = base[:12] + extra + base[12:]
    blob = blob[:4] + (len(blob) - 8).to_bytes(4, "little") + blob[8:]
    assert np.array_equal(
        np.rint(mm.decode_wav(blob).ravel() * 32768.0).astype(np.int16), pcm
    )
    # 8-bit unsigned PCM
    fmt = (
        (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
    )
    data = bytes([0, 128, 255])
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(data).to_bytes(4, "little") + data + b"\0"
    wav8 = b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks
    got = mm.decode_wav(wav8).ravel()
    assert got == pytest.approx([-1.0, 0.0, 127 / 128])


def test_media_decoder_dispatch():
    import numpy as np

    img = _grid(4, 4)
    assert np.array_equal(mm.media_decoder(mm.encode_ppm(img)), img)
    assert np.array_equal(mm.media_decoder(mm.encode_bmp(img)), img)
    assert mm.media_decoder(mm.encode_wav(np.arange(4, dtype=np.int16))).shape == (4, 1)
    assert np.array_equal(mm.media_decoder(mm.encode_png(img, "mixed")), img)
    with pytest.raises(NotImplementedError, match="'mp3'"):
        mm.media_decoder(MP3)
    with pytest.raises(ValueError, match="JPEG"):
        mm.media_decoder(JPG)  # valid jpeg signature, garbage body
    with pytest.raises(ValueError, match="PNG"):
        mm.media_decoder(PNG)  # valid signature, garbage chunks


def test_png_rejects_unsupported_variants():
    """The decoder is exact-or-loud: corrupted-CRC blobs, illegal
    type x depth combinations, PLTE-less palettes, and wrong-size
    payloads raise with the reason named rather than decoding
    approximately."""
    import zlib

    import numpy as np

    img = _grid(5, 5)
    blob = bytearray(mm.encode_png(img))
    # flip one IDAT payload byte → CRC mismatch
    bad = bytearray(blob)
    bad[-20] ^= 0x01
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_png(bytes(bad))

    def variant(depth=8, ctype=2, interlace=0):
        ihdr = (
            (5).to_bytes(4, "big") + (5).to_bytes(4, "big")
            + bytes([depth, ctype, 0, 0, interlace])
        )
        def chunk(typ, body):
            return (
                len(body).to_bytes(4, "big") + typ + body
                + (zlib.crc32(typ + body) & 0xFFFFFFFF).to_bytes(4, "big")
            )
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(5 * 16)))
            + chunk(b"IEND", b"")
        )

    with pytest.raises(ValueError, match="missing PLTE"):
        mm.decode_png(variant(ctype=3))  # palette declared, no PLTE
    # illegal type x depth combos per the spec matrix (depth 16 and
    # Adam7 are SUPPORTED since round 8 — only illegal combos raise)
    with pytest.raises(ValueError, match="illegal PNG depth"):
        mm.decode_png(variant(depth=3))
    with pytest.raises(ValueError, match="illegal PNG depth"):
        mm.decode_png(variant(depth=4, ctype=2))  # sub-byte RGB
    with pytest.raises(ValueError, match="illegal PNG depth"):
        mm.decode_png(variant(depth=16, ctype=3))  # 16-bit palette
    # legal-looking header with wrong payload size still raises
    with pytest.raises(ValueError, match="length mismatch"):
        mm.decode_png(variant(depth=16))


def test_wav_frame_decoder_real():
    import numpy as np

    pcm = np.arange(mm.WAV_FRAME_SAMPLES * 5, dtype=np.int16)
    frames = mm.wav_frame_decoder(mm.encode_wav(pcm), every_n=2)
    assert len(frames) == 3  # windows 0, 2, 4
    w0 = np.frombuffer(frames[0], dtype="<i2")
    assert np.array_equal(w0, pcm[: mm.WAV_FRAME_SAMPLES])
    w2 = np.frombuffer(frames[1], dtype="<i2")
    assert np.array_equal(w2, pcm[2 * mm.WAV_FRAME_SAMPLES : 3 * mm.WAV_FRAME_SAMPLES])


def test_decode_features_default_real(spark):
    """End-to-end: mixed real formats through the DEFAULT decoder —
    no injected codec anywhere."""
    import numpy as np

    img = _grid(6, 6)
    rows = [
        (0, mm.encode_ppm(img)),
        (1, mm.encode_bmp(img)),
        (2, mm.encode_wav(np.arange(64, dtype=np.int16))),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "id long, blob binary")
    out = {r["id"]: r["features"] for r in mm.decode_features(df, "blob", "id").collect()}
    assert len(out[0]) == 16 and len(out[2]) == 16
    # ppm and bmp carry the SAME pixels → identical features
    assert out[0] == pytest.approx(out[1])
    assert out[3] is None
    want = mm.default_embedder(mm.decode_ppm(mm.encode_ppm(img))).tolist()
    assert out[0] == pytest.approx(want)


def test_sample_frames_default_wav(spark):
    import numpy as np

    pcm = np.arange(mm.WAV_FRAME_SAMPLES * 4, dtype=np.int16)
    df = spark.createDataFrame([(7, mm.encode_wav(pcm))], "id long, blob binary")
    rows = mm.sample_frames(df, "blob", "id", every_n=2).collect()
    assert [r["frame_idx"] for r in rows] == [0, 1]
    got = np.frombuffer(rows[0]["frame"], dtype="<i2")
    assert np.array_equal(got, pcm[: mm.WAV_FRAME_SAMPLES])


def test_gif_dict_reset_and_rejections():
    """A 300×301 random 256-color image forces the LZW dictionary to
    the 4096-entry cap and through the clear-code reset path; exact
    identity proves the reset stays synchronized. Rejections are
    loud: >256 distinct colors (no silent quantization), truncated
    streams, missing image descriptor."""
    import numpy as np

    rng = np.random.default_rng(3)
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 256, size=(300, 301))]
    for interlace in (False, True):
        assert np.array_equal(
            mm.decode_gif(mm.encode_gif(img, interlace=interlace)), img
        )
    with pytest.raises(ValueError, match="distinct colors"):
        mm.encode_gif(rng.integers(0, 256, size=(40, 40, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="GIF"):
        mm.decode_gif(b"GIF89a" + bytes(20))
    blob = bytearray(mm.encode_gif(img))
    with pytest.raises(ValueError):
        mm.decode_gif(bytes(blob[:200]))  # truncated mid-stream


def test_tiff_roundtrip_both_byte_orders_and_rejections():
    """Exact identity for gray and RGB in BOTH byte orders — the MM
    (big-endian) path exercises the IFD inline-value justification
    trap. Compressed/paletted/16-bit variants raise with the reason
    named."""
    import numpy as np

    rng = np.random.default_rng(9)
    for shape in [(1, 1), (5, 7), (9, 15, 3), (1, 300, 3), (300, 1)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for bo in ("<", ">"):
            blob = mm.encode_tiff(img, byte_order=bo)
            assert np.array_equal(mm.decode_tiff(blob), img)
            assert np.array_equal(mm.media_decoder(blob), img)
    # compression rejection: patch tag 259's inline value to 5 (LZW)
    blob = bytearray(mm.encode_tiff(rng.integers(0, 256, (4, 4), dtype=np.uint8)))
    img_bytes = 16
    ifd_off = int.from_bytes(blob[4:8], "little")
    n = int.from_bytes(blob[ifd_off : ifd_off + 2], "little")
    for i in range(n):
        e = ifd_off + 2 + 12 * i
        if int.from_bytes(blob[e : e + 2], "little") == 259:
            blob[e + 8 : e + 10] = (5).to_bytes(2, "little")
    with pytest.raises(ValueError, match="compression 5"):
        mm.decode_tiff(bytes(blob))
    with pytest.raises(ValueError, match="not a TIFF"):
        mm.decode_tiff(b"XX" + bytes(20))


def test_gzip_unwrap_redispatch():
    """A gzip wrapper around any decodable blob is transparently
    unwrapped (corpora store media gzipped at rest); a gzipped
    format WITHOUT a built-in codec still raises the inner gate."""
    import gzip

    import numpy as np

    img = _grid(6, 6)
    for enc in (mm.encode_png, mm.encode_bmp, lambda a: mm.encode_tiff(a, ">")):
        wrapped = gzip.compress(enc(img))
        assert np.array_equal(mm.media_decoder(wrapped), img)
    with pytest.raises(NotImplementedError, match="'mp3'"):
        mm.media_decoder(gzip.compress(MP3))


def test_codec_known_answer_external_blobs():
    """Known-answer tests on EXTERNALLY authored bytes — the check the
    encode→decode round-trips structurally cannot provide: a bug
    implemented symmetrically in this repo's encoder and decoder
    cancels in a round-trip, but cannot reproduce a third party's
    byte stream. The PNG is the ubiquitous 1×1 data-URI blob (RGBA,
    SUB-filtered scanline — ground truth re-derived in-test from a
    manual chunk walk + stdlib zlib, independent of decode_png); the
    GIF is the canonical 35-byte 1×1 white-pixel GIF89a."""
    import base64
    import zlib

    import numpy as np

    png = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhf"
        "DwAChwGA60e6kgAAAABJRU5ErkJggg=="
    )
    # independent ground truth: manual IHDR + inflate (no decode_png)
    assert png[16:20] == (1).to_bytes(4, "big") and png[20:24] == (1).to_bytes(4, "big")
    assert png[24] == 8 and png[25] == 6  # 8-bit RGBA
    i = png.index(b"IDAT")
    ln = int.from_bytes(png[i - 4 : i], "big")
    raw = zlib.decompress(png[i + 4 : i + 4 + ln])
    assert list(raw) == [1, 0, 0, 255, 127]  # SUB filter, pixel (0,0,255,127)
    out = mm.decode_png(png)
    assert out.shape == (1, 1, 4)
    assert out.ravel().tolist() == [0, 0, 255, 127]

    gif = (
        b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
        b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;"
    )
    out = mm.decode_gif(gif)
    assert out.shape == (1, 1, 3)
    assert out.ravel().tolist() == [255, 255, 255]


def test_gif_animation_frames_and_sample_frames(spark):
    """Animated GIF is the REAL video-shaped path for `sample_frames`:
    every frame carries its own LOCAL color table and a graphic
    control extension (exercising per-frame extension skipping), each
    sampled frame comes back as a standalone PPM blob, and every_n
    selects frames [0, n, 2n, ...]. Partial (delta) frames raise
    rather than silently yielding a sub-image."""
    import numpy as np

    rng = np.random.default_rng(21)
    frames = []
    for k in range(5):
        pal = rng.integers(0, 256, size=(20 + k, 3), dtype=np.uint8)
        frames.append(pal[rng.integers(0, len(pal), size=(9, 13))])
    blob = mm.encode_gif_animation(frames)
    # decode_gif = first frame; frame decoder = every_n-th as PPM
    assert np.array_equal(mm.decode_gif(blob), frames[0])
    ppms = mm.gif_frame_decoder(blob, 2)
    assert [
        np.array_equal(mm.decode_ppm(p), frames[i]) for p, i in zip(ppms, [0, 2, 4])
    ] == [True, True, True]
    # end-to-end through the Spark operator with the DEFAULT dispatch
    df = spark.createDataFrame([(1, blob)], "id long, blob binary")
    rows = mm.sample_frames(df, "blob", "id", every_n=2).collect()
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]
    got = [mm.decode_ppm(bytes(r["frame"])) for r in rows]
    assert all(np.array_equal(g, frames[i]) for g, i in zip(got, [0, 2, 4]))
    # a frame rectangle past the logical screen must raise (a nonzero
    # left offset makes a full-width frame overflow the screen)
    single = bytearray(mm.encode_gif(frames[0]))
    desc = 13 + (2 << ((single[10] & 0x07))) * 3  # header + GCT
    assert single[desc] == 0x2C
    single[desc + 1] = 1  # left := 1
    with pytest.raises(ValueError, match="exceeds the logical screen"):
        mm.decode_gif(bytes(single))


def test_gif_delta_frame_compositing():
    """GIF89a spec §23 animation compositing (VERDICT r7 ask #4):
    delta frames draw at their offset onto the persistent canvas;
    disposal 2 restores the frame region to the background color,
    disposal 3 restores it to the pre-frame canvas, and a GCE
    transparency index leaves underlying pixels untouched."""
    import numpy as np

    rng = np.random.default_rng(31)
    pal = rng.integers(0, 256, size=(23, 3), dtype=np.uint8)
    base = pal[rng.integers(0, 23, size=(10, 12))]
    patch = pal[rng.integers(0, 23, size=(4, 5))]

    blob = mm.encode_gif_animation(
        [base, patch], offsets=[(0, 0), (3, 2)], screen=(12, 10)
    )
    f0, f1 = mm._iter_gif_frames(blob)
    exp = base.copy()
    exp[2:6, 3:8] = patch
    assert np.array_equal(f0, base) and np.array_equal(f1, exp)

    # disposal 2: the patch region resets to background (no GCT -> black)
    blob = mm.encode_gif_animation(
        [base, patch, patch],
        offsets=[(0, 0), (3, 2), (0, 0)],
        disposals=[0, 2, 0],
        screen=(12, 10),
    )
    last = list(mm._iter_gif_frames(blob))[2]
    exp = base.copy()
    exp[2:6, 3:8] = 0
    exp[0:4, 0:5] = patch
    assert np.array_equal(last, exp)

    # disposal 3: the patch region restores to the pre-frame canvas
    blob = mm.encode_gif_animation(
        [base, patch, patch],
        offsets=[(0, 0), (3, 2), (0, 0)],
        disposals=[0, 3, 0],
        screen=(12, 10),
    )
    last = list(mm._iter_gif_frames(blob))[2]
    exp = base.copy()
    exp[0:4, 0:5] = patch
    assert np.array_equal(last, exp)

    # transparency: hand-patch frame 2's GCE to transparent-index and
    # verify masked pixels keep the canvas values. The patch's palette
    # is np.unique-sorted, so index 0 is its lexicographically first
    # color; mark that index transparent.
    blob = bytearray(
        mm.encode_gif_animation(
            [base, patch], offsets=[(0, 0), (3, 2)], screen=(12, 10)
        )
    )
    gces = [i for i in range(len(blob) - 1) if blob[i] == 0x21 and blob[i + 1] == 0xF9]
    blob[gces[1] + 3] |= 0x01  # transparency flag
    blob[gces[1] + 6] = 0      # transparent index 0
    f0, f1 = mm._iter_gif_frames(bytes(blob))
    pal_sorted = np.unique(patch.reshape(-1, 3), axis=0)
    mask = (patch == pal_sorted[0]).all(axis=-1)
    exp = base.copy()
    region = exp[2:6, 3:8]
    region[~mask] = patch[~mask]
    assert np.array_equal(f1, exp)
    # sample_frames consumes composited deltas end-to-end
    ppms = mm.gif_frame_decoder(bytes(blob), 1)
    assert np.array_equal(mm.decode_ppm(ppms[1]), exp)


def test_png_palette_roundtrip():
    """Color type 3 decode (VERDICT r7 ask #4): PLTE lookup, optional
    tRNS alpha (entries past the tRNS length are opaque), index
    validation, and every scanline filter via filter_type='mixed'."""
    import numpy as np

    rng = np.random.default_rng(33)
    pal = rng.integers(0, 256, size=(37, 3), dtype=np.uint8)
    idx = rng.integers(0, 37, size=(13, 11), dtype=np.uint8)
    out = mm.decode_png(mm.encode_png_indexed(idx, pal, filter_type="mixed"))
    assert np.array_equal(out, pal[idx])
    # media_decoder dispatch covers palette PNGs too
    assert np.array_equal(
        mm.media_decoder(mm.encode_png_indexed(idx, pal)), pal[idx]
    )
    trns = rng.integers(0, 256, size=20, dtype=np.uint8)
    out = mm.decode_png(mm.encode_png_indexed(idx, pal, trns=trns))
    alpha = np.full(37, 255, dtype=np.uint8)
    alpha[:20] = trns
    assert np.array_equal(
        out, np.concatenate([pal[idx], alpha[idx][..., None]], axis=-1)
    )
    # an index past the palette raises rather than wrapping
    small_pal = pal[:8]
    blob = mm.encode_png_indexed(idx % 8, small_pal)
    import zlib

    i = blob.index(b"IDAT")
    ln = int.from_bytes(blob[i - 4 : i], "big")
    raw = bytearray(zlib.decompress(blob[i + 4 : i + 4 + ln]))
    raw[1] = 200  # index 200 > 7, on a type-0 filtered row
    body = zlib.compress(bytes(raw))
    patched = bytearray(blob[: i - 4])
    patched += len(body).to_bytes(4, "big") + b"IDAT" + body
    patched += (zlib.crc32(b"IDAT" + body) & 0xFFFFFFFF).to_bytes(4, "big")
    patched += blob[i + 8 + ln :]
    with pytest.raises(ValueError, match="exceeds PLTE"):
        mm.decode_png(bytes(patched))


def test_decoders_fail_typed_on_malformed_input():
    """Decode robustness contract (round-7 malformed-input fuzz):
    mutated/truncated/spliced blobs must raise ValueError /
    NotImplementedError — never hang and never leak a bare
    IndexError/KeyError. The fuzz that established this (6,400 cases,
    0 hangs, 0 untyped) found three real bugs now pinned here: a GIF
    LZW min-code-size byte of 200 sized the root table at 2^200
    entries, a corrupted TIFF tag count iterated range(0, 2^31) over
    an empty slice (int.from_bytes(b'') == 0), and truncated GIF
    headers/streams leaked IndexError."""
    import numpy as np

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(8, 9, 3), dtype=np.uint8)
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    gif = bytearray(mm.encode_gif(pal[rng.integers(0, 16, size=(8, 9))]))
    # pinned case 1: absurd LZW min code size must raise, not allocate
    with pytest.raises(ValueError, match="minimum code size"):
        mm._gif_lzw_decode(b"\x00\x01", 200)
    # pinned case 2: TIFF tag count pointing past the blob
    tif = bytearray(mm.encode_tiff(img))
    ifd = int.from_bytes(tif[4:8], "little")
    n = int.from_bytes(tif[ifd : ifd + 2], "little")
    for i in range(n):
        e = ifd + 2 + 12 * i
        if int.from_bytes(tif[e : e + 2], "little") == 273:  # strip offsets
            tif[e + 4 : e + 8] = (2**30).to_bytes(4, "little")  # huge count
    with pytest.raises(ValueError, match="truncated TIFF tag"):
        mm.decode_tiff(bytes(tif))
    # pinned case 3: truncated GIF header / stream → typed error
    with pytest.raises(ValueError, match="truncated GIF"):
        mm.decode_gif(b"GIF89a\x01\x00")
    with pytest.raises(ValueError):
        mm.decode_gif(bytes(gif[:20]))
    # randomized sweep: every failure typed, nothing else escapes
    from sif_spark.operators.jpeg import encode_jpeg

    blobs = [bytes(gif), mm.encode_png(img), mm.encode_tiff(img, ">"),
             mm.encode_bmp(img), mm.encode_ppm(img),
             mm.encode_wav(np.arange(32, dtype=np.int16)),
             encode_jpeg(img, subsampling="4:2:0", restart_interval=1)]
    for blob in blobs:
        for trial in range(60):
            b = bytearray(blob)
            mode = trial % 3
            if mode == 0:
                j = int(rng.integers(0, len(b))); b[j] ^= int(rng.integers(1, 256))
            elif mode == 1:
                b = b[: int(rng.integers(1, len(b)))]
            else:
                j = int(rng.integers(0, len(b)))
                b[j : j + int(rng.integers(1, 8))] = bytes(
                    rng.integers(0, 256, size=int(rng.integers(0, 8))).tolist()
                )
            try:
                out = mm.media_decoder(bytes(b))
                assert isinstance(out, __import__("numpy").ndarray)
            except (ValueError, NotImplementedError):
                pass  # the typed contract


def test_decode_features_on_error_null(spark):
    """The IgnoreRowErrors lever at the decode boundary: one corrupt
    blob in a batch must not kill the job under on_error='null' —
    it yields NULL features while good rows decode normally (and the
    default stays loudly 'raise')."""
    import numpy as np

    good = mm.encode_png(_grid(4, 4))
    corrupt = bytearray(good)
    corrupt[-20] ^= 1  # CRC break
    rows = [(0, good), (1, bytes(corrupt)), (2, JPG), (3, None)]
    df = spark.createDataFrame(rows, "id long, blob binary")
    out = {
        r["id"]: r["features"]
        for r in mm.decode_features(df, "blob", "id", on_error="null").collect()
    }
    assert out[0] is not None and len(out[0]) == 16
    assert out[1] is None     # corrupt -> null, job survives
    assert out[2] is None     # malformed jpeg -> null under tolerance
    assert out[3] is None     # null input stays null
    with pytest.raises(Exception, match="CRC"):
        mm.decode_features(df.filter("id = 1"), "blob", "id").collect()
    with pytest.raises(ValueError, match="on_error"):
        mm.decode_features(df, "blob", "id", on_error="skip")


def test_sample_frames_on_error_null(spark):
    import numpy as np

    pal = np.arange(48, dtype=np.uint8).reshape(16, 3)
    anim = mm.encode_gif_animation([pal[np.arange(72).reshape(8, 9) % 16]] * 2)
    rows = [(0, anim), (1, anim[:30]), (2, JPG)]  # truncated + no-codec
    df = spark.createDataFrame(rows, "id long, blob binary")
    out = mm.sample_frames(df, "blob", "id", every_n=1, on_error="null").collect()
    assert sorted({r["id"] for r in out}) == [0]  # bad blobs emit zero frames
    assert len(out) == 2
    with pytest.raises(Exception, match="(truncated|no built-in)"):
        mm.sample_frames(df, "blob", "id", every_n=1).collect()


def test_blob_stage_error_rule(spark):
    """blob_stage's one error rule, past decode: a typed error raised
    after a flat blob already produced rows drops that blob whole under
    'null', an untyped one fails the task under either setting, and a
    map-shaped LongType field keeps its NULLs."""
    from pyspark.sql import types as T

    def parts(b):
        yield (b[:1].decode(),)
        if b[1:] == b"!":
            raise ValueError("late typed error")
        if b[1:] == b"?":
            raise KeyError("untyped error")
        yield (b[1:].decode(),)

    fields = [T.StructField("part", T.StringType())]
    df = spark.createDataFrame(
        [(1, b"ab"), (2, b"c!"), (3, None)], "id long, blob binary"
    ).coalesce(1)
    got = mm.blob_stage(df, "blob", "id", fields, parts, "null", flat=True)
    assert sorted(tuple(r) for r in got.collect()) == [(1, "a"), (1, "b")]
    with pytest.raises(Exception, match="late typed error"):
        mm.blob_stage(df, "blob", "id", fields, parts, "raise", flat=True).collect()
    untyped = spark.createDataFrame([(1, b"a?")], "id long, blob binary")
    for on_error in ("raise", "null"):
        with pytest.raises(Exception, match="untyped error"):
            mm.blob_stage(
                untyped, "blob", "id", fields, parts, on_error, flat=True
            ).collect()

    big = [T.StructField("n", T.LongType())]
    got = mm.blob_stage(df, "blob", "id", big, lambda b: (2**62 + len(b),), "null")
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, 2**62 + 2), (2, 2**62 + 2), (3, None)
    ]


def test_decompression_bomb_bounds(monkeypatch):
    """ADVICE r7: attacker-controlled compressed payloads must stop at
    a typed error BEFORE the memory is spent. Three bounded paths:
    GIF LZW output capped at declared w*h, PNG IDAT inflated with
    max_length = declared scanline bytes + 1, gzip unwrap capped and
    depth-limited. Plus the declared-dimensions budget: a forged
    header alone must not buy a giant allocation."""
    import gzip
    import zlib

    import numpy as np

    # -- GIF: stream decoding past declared w*h raises immediately --
    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
    big = mm.encode_gif(pal[rng.integers(0, 8, size=(64, 64))])
    patched = bytearray(big)
    desc = patched.index(bytes([0x2C, 0, 0, 0, 0]))
    for off in (6, 8):  # logical screen w/h
        patched[off : off + 2] = (4).to_bytes(2, "little")
    patched[desc + 5 : desc + 7] = (4).to_bytes(2, "little")  # image w
    patched[desc + 7 : desc + 9] = (4).to_bytes(2, "little")  # image h
    with pytest.raises(ValueError, match="past the declared image size"):
        mm.decode_gif(bytes(patched))
    # direct kernel check: the cap fires mid-stream, not post-hoc —
    # extract the real LZW stream (deframe the data sub-blocks after
    # the 10-byte image descriptor + min-code-size byte) and cap it
    # far below the 64*64 symbols it actually encodes.
    pos = desc + 10
    min_code = big[pos]
    pos += 1
    lzw = bytearray()
    while big[pos]:
        ln = big[pos]
        lzw += big[pos + 1 : pos + 1 + ln]
        pos += 1 + ln
    with pytest.raises(ValueError, match="past the declared"):
        mm._gif_lzw_decode(bytes(lzw), min_code, max_symbols=3)

    # -- GIF: forged giant dimensions refuse before any decode --
    huge = bytearray(big)
    for off in (6, 8):
        huge[off : off + 2] = (65535).to_bytes(2, "little")
    huge[desc + 5 : desc + 7] = (65535).to_bytes(2, "little")
    huge[desc + 7 : desc + 9] = (65535).to_bytes(2, "little")
    with pytest.raises(ValueError, match="MAX_DECODE_PIXELS"):
        mm.decode_gif(bytes(huge))

    # -- PNG: small declared image, huge inflated IDAT -> capped --
    good = mm.encode_png(np.zeros((4, 4), dtype=np.uint8))
    sig, rest = good[:8], good[8:]
    chunks = []
    pos = 0
    while pos < len(rest):
        ln = int.from_bytes(rest[pos : pos + 4], "big")
        typ = rest[pos + 4 : pos + 8]
        body = rest[pos + 8 : pos + 8 + ln]
        chunks.append((typ, body))
        pos += 12 + ln
    bomb_body = zlib.compress(b"\x00" * (32 << 20), 9)  # 32 MB of zeros
    out = bytearray(sig)
    for typ, body in chunks:
        if typ == b"IDAT":
            body = bomb_body
        out += len(body).to_bytes(4, "big") + typ + body
        out += (zlib.crc32(typ + body) & 0xFFFFFFFF).to_bytes(4, "big")
    with pytest.raises(ValueError, match="scanline data length mismatch"):
        mm.decode_png(bytes(out))

    # -- gzip: output cap and nesting depth --
    ppm = mm.encode_ppm(np.zeros((2, 2, 3), dtype=np.uint8))
    assert mm.media_decoder(gzip.compress(gzip.compress(ppm))).shape == (2, 2, 3)
    with pytest.raises(ValueError, match="nested more than 2"):
        mm.media_decoder(gzip.compress(gzip.compress(gzip.compress(ppm))))
    monkeypatch.setattr(mm, "MAX_GZIP_BYTES", 64)
    with pytest.raises(ValueError, match="MAX_GZIP_BYTES"):
        mm.media_decoder(gzip.compress(ppm + b"\x00" * 1024))


def test_png_depth_interlace_matrix():
    """Round 8 PNG surface completion: every legal color-type x depth
    combination round-trips, interlaced and not, through mixed
    scanline filters — 16-bit returns uint16, sub-byte gray scales by
    the exact 255/(2^d-1), sub-byte palettes pack indices MSB-first."""
    import numpy as np

    rng = np.random.default_rng(41)
    for shape in [(13, 11), (13, 11, 2), (13, 11, 3), (13, 11, 4), (1, 1)]:
        img = rng.integers(0, 256, shape, np.uint8)
        for il in (False, True):
            assert np.array_equal(
                mm.decode_png(mm.encode_png(img, "mixed", interlace=il)), img
            )
    for shape in [(9, 7), (6, 5, 3), (4, 4, 4)]:
        img = rng.integers(0, 65536, shape).astype(np.uint16)
        for il in (False, True):
            out = mm.decode_png(mm.encode_png(img, "mixed", interlace=il))
            assert out.dtype == np.uint16 and np.array_equal(out, img)
    for d in (1, 2, 4):
        v = rng.integers(0, 1 << d, (11, 13), np.uint8)
        scale = 255 // ((1 << d) - 1)
        for il in (False, True):
            out = mm.decode_png(mm.encode_png(v, "mixed", depth=d, interlace=il))
            assert np.array_equal(out, v * scale)
        pal = rng.integers(0, 256, (1 << d, 3), np.uint8)
        idx = rng.integers(0, 1 << d, (10, 15), np.uint8)
        blob = mm.encode_png_indexed(idx, pal, depth=d, interlace=il, filter_type="mixed")
        assert np.array_equal(mm.decode_png(blob), pal[idx])


def test_png_adam7_known_answer_hand_built():
    """Adam7 pass ORDER verified against a hand-assembled stream —
    an encoder and decoder sharing one pass table would cancel a
    wrong table; this test derives the seven passes of an 8x8
    grayscale image BY HAND from spec 8.2 (pixel value = 10*y + x,
    filter 0 on every scanline) and asserts the decode."""
    import zlib

    import numpy as np

    grid = np.add.outer(10 * np.arange(8), np.arange(8)).astype(np.uint8)
    v = lambda y, x: bytes([10 * y + x])
    # seven passes, scanlines written top-to-bottom, filter byte 0:
    raw = (
        b"\x00" + v(0, 0)                                       # pass 1
        + b"\x00" + v(0, 4)                                     # pass 2
        + b"\x00" + v(4, 0) + v(4, 4)                           # pass 3
        + b"\x00" + v(0, 2) + v(0, 6)                           # pass 4 row y=0
        + b"\x00" + v(4, 2) + v(4, 6)                           # pass 4 row y=4
        + b"\x00" + v(2, 0) + v(2, 2) + v(2, 4) + v(2, 6)       # pass 5 y=2
        + b"\x00" + v(6, 0) + v(6, 2) + v(6, 4) + v(6, 6)       # pass 5 y=6
        + b"".join(                                              # pass 6
            b"\x00" + v(y, 1) + v(y, 3) + v(y, 5) + v(y, 7)
            for y in (0, 2, 4, 6)
        )
        + b"".join(                                              # pass 7
            b"\x00" + bytes(10 * y + x for x in range(8)) for y in (1, 3, 5, 7)
        )
    )

    def chunk(typ, body):
        return (
            len(body).to_bytes(4, "big") + typ + body
            + (zlib.crc32(typ + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (8).to_bytes(4, "big") + (8).to_bytes(4, "big") + bytes([8, 0, 0, 0, 1])
    blob = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    assert np.array_equal(mm.decode_png(blob), grid)


def test_tiff_packbits_multistrip_palette():
    """Round 8 TIFF surface: PackBits strips (output-capped RLE),
    multi-strip layouts (offset/count ARRAYS in the IFD), palette
    (photometric 3, ColorMap high bytes), and white-is-zero
    (photometric 0, inverted on read) — both byte orders."""
    import numpy as np

    rng = np.random.default_rng(61)
    img = rng.integers(0, 256, (23, 17, 3), np.uint8)
    gray = rng.integers(0, 256, (23, 17), np.uint8)
    pal = rng.integers(0, 256, (37, 3), np.uint8)
    idx = rng.integers(0, 37, (9, 14), np.uint8)
    for bo in ("<", ">"):
        assert np.array_equal(
            mm.decode_tiff(mm.encode_tiff(img, bo, rows_per_strip=5)), img
        )
        assert np.array_equal(
            mm.decode_tiff(mm.encode_tiff(img, bo, compression="packbits")), img
        )
        assert np.array_equal(
            mm.decode_tiff(
                mm.encode_tiff(gray, bo, compression="packbits", rows_per_strip=4)
            ),
            gray,
        )
        out = mm.decode_tiff(
            mm.encode_tiff(idx, bo, palette=pal, compression="packbits",
                           rows_per_strip=3)
        )
        assert np.array_equal(out, pal[idx])
    # packbits genuinely compresses runs
    runny = np.zeros((16, 16), np.uint8)
    assert len(mm.encode_tiff(runny, compression="packbits")) < len(
        mm.encode_tiff(runny)
    )
    # white-is-zero: patch photometric to 0 -> inverted gray
    blob = bytearray(mm.encode_tiff(gray))
    ifd = int.from_bytes(blob[4:8], "little")
    n = int.from_bytes(blob[ifd : ifd + 2], "little")
    for i in range(n):
        e = ifd + 2 + 12 * i
        if int.from_bytes(blob[e : e + 2], "little") == 262:
            blob[e + 8 : e + 10] = (0).to_bytes(2, "little")
    assert np.array_equal(mm.decode_tiff(bytes(blob)), 255 - gray)
    # media_decoder dispatch covers the new variants
    assert np.array_equal(
        mm.media_decoder(mm.encode_tiff(img, ">", compression="packbits")), img
    )
    # a PackBits stream trying to decode past the declared size raises
    import pytest as _pytest

    small = bytearray(mm.encode_tiff(np.zeros((4, 4), np.uint8),
                                     compression="packbits"))
    ifd = int.from_bytes(small[4:8], "little")
    n = int.from_bytes(small[ifd : ifd + 2], "little")
    for i in range(n):
        e = ifd + 2 + 12 * i
        tag = int.from_bytes(small[e : e + 2], "little")
        if tag in (256, 257):  # shrink declared dims under the data
            small[e + 8 : e + 12] = (2).to_bytes(4, "little")
    with _pytest.raises(ValueError, match="exceeds the declared"):
        mm.decode_tiff(bytes(small))


def test_bmp_32bpp_and_palette():
    """Round 8 BMP surface: 32-bpp BGRX (X byte dropped) and 8-bpp
    palette (BGRX color table, bottom-up rows, index validation)."""
    import numpy as np

    rng = np.random.default_rng(67)
    img = rng.integers(0, 256, (9, 15, 3), np.uint8)
    assert np.array_equal(mm.decode_bmp(mm.encode_bmp(img, bpp=32)), img)
    pal = rng.integers(0, 256, (37, 3), np.uint8)
    idx = rng.integers(0, 37, (11, 13), np.uint8)
    for p, x in ((pal, idx), (pal[:5], idx % 5)):  # full + short table
        blob = mm.encode_bmp(x, palette=p)
        assert np.array_equal(mm.decode_bmp(blob), p[x])
        assert np.array_equal(mm.media_decoder(blob), p[x])
    # an index past the color table raises rather than wrapping
    blob = bytearray(mm.encode_bmp(idx % 5, palette=pal[:5]))
    data_off = int.from_bytes(blob[10:14], "little")
    blob[data_off] = 200  # first stored pixel (not a stride pad byte)
    with pytest.raises(ValueError, match="exceeds color table"):
        mm.decode_bmp(bytes(blob))


def _wav_blob(fmt_code: int, bits: int, channels: int, data: bytes) -> bytes:
    """Hand-built RIFF/WAVE container, independent of encode_wav."""
    fmt = (
        fmt_code.to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + (8000).to_bytes(4, "little")
        + (8000 * channels * bits // 8).to_bytes(4, "little")
        + (channels * bits // 8).to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def test_wav_24bit_and_g711_companders():
    """Round 8 WAV surface: 24-bit PCM sign extension and the G.711
    mu-law/A-law tables against spec known answers (mu-law 0xFF -> 0,
    0x80 -> +32124; A-law 0x55 -> +8, 0xAA -> -32256)."""
    import numpy as np

    # 24-bit: +0x123456 and -0x123456, little-endian triplets
    pos, neg = 0x123456, (1 << 24) - 0x123456
    data = pos.to_bytes(3, "little") + neg.to_bytes(3, "little")
    x = mm.decode_wav(_wav_blob(1, 24, 1, data))
    assert x.shape == (2, 1)
    assert x[0, 0] == np.float32(0x123456 / 8388608.0)
    assert x[1, 0] == np.float32(-0x123456 / 8388608.0)

    ulaw = mm.decode_wav(_wav_blob(7, 8, 1, bytes([0xFF, 0x7F, 0x80, 0x00])))
    assert (ulaw[:, 0] * 32768).tolist() == [0, 0, 32124, -32124]
    alaw = mm.decode_wav(_wav_blob(6, 8, 2, bytes([0x55, 0xD5, 0xAA, 0x2A])))
    assert (alaw * 32768).ravel().tolist() == [8, -8, -32256, 32256]

    # full-table spec replay, independent arithmetic
    tab = mm._g711_ulaw_table()
    for b in range(256):
        u = ~b & 0xFF
        mag = ((((u & 15) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
        assert tab[b] == (-mag if u & 0x80 else mag), b

    with pytest.raises(ValueError, match="unsupported WAVE"):
        mm.decode_wav(_wav_blob(7, 16, 1, bytes(4)))


def test_compressed_wrapper_unwrap_bz2_xz_and_typed_errors():
    """Round 8: bz2/xz at-rest wrappers unwrap (output-capped) like
    gzip, corrupt streams raise ValueError (never zlib.error/OSError/
    LZMAError), and depth nesting stays limited."""
    import bz2 as _bz2
    import gzip as _gzip
    import lzma as _lzma

    import numpy as np

    rng = np.random.default_rng(68)
    img = rng.integers(0, 256, (6, 8, 3), np.uint8)
    ppm = mm.encode_ppm(img)
    for wrap in (_bz2.compress, _lzma.compress):
        assert np.array_equal(mm.media_decoder(wrap(ppm)), img)
    # mixed double wrap stays within the depth budget
    assert np.array_equal(mm.media_decoder(_gzip.compress(_bz2.compress(ppm))), img)
    with pytest.raises(ValueError, match="nested more than 2"):
        mm.media_decoder(_bz2.compress(_gzip.compress(_bz2.compress(ppm))))

    # corrupt compressed payloads: typed errors only
    for blob in (
        b"\x1f\x8b" + b"garbage-bytes",
        b"BZh" + b"garbage-bytes",
        b"\xfd7zXZ\x00" + b"garbage",
    ):
        with pytest.raises(ValueError):
            mm.media_decoder(blob)

    # CRC-fixed PNG with a corrupt deflate stream is typed too
    import zlib as _zlib

    png = bytearray(mm.encode_png(img))
    i = bytes(png).index(b"IDAT")
    ln = int.from_bytes(png[i - 4 : i], "big")
    png[i + 4] ^= 0xFF  # corrupt payload
    body = bytes(png[i : i + 4 + ln])
    png[i + 4 + ln : i + 8 + ln] = (_zlib.crc32(body) & 0xFFFFFFFF).to_bytes(4, "big")
    with pytest.raises(ValueError, match="inflate failed|length mismatch|filter"):
        mm.decode_png(bytes(png))
