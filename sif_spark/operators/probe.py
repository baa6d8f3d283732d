"""Media metadata probe: typed header-only facts for every sniffable
format — no frame decode, no entropy decode, a few hundred bytes read
per blob.

The reference's opaque custom column types (column_type.go:16-23)
carry arbitrary bytes whose SCHEMA the engine never sees; at crawl
scale the first question a pipeline asks of such a column is "what is
this and is it worth decoding?" — width/height, frame count, duration,
sample rate, codec fourcc. This module answers that for the formats
with built-in codecs (ppm/bmp/wav/png/gif/tiff/jpeg/avi) AND for the
two formats whose payloads stay behind the injected-codec gate but
whose HEADERS are pure public-spec arithmetic: MPEG audio (mp3 — frame
header walk, ID3v2 skip, per-frame bitrate tables) and MP4/ISO-BMFF
(box walk: ftyp brand, mvhd duration, tkhd dims, stsd codec entry).
Probing is always cheap even when decode is gated or injected.

Scale notes: `attach_probe` is one Arrow-batched mapInPandas stage;
the probe reads only headers, so throughput is parquet-scan-bound,
not codec-bound. All header fields are attacker-controlled: every
offset is bounds-checked, walks are strictly forward (no loops), and
errors are the typed ValueError/NotImplementedError decode contract
so `on_error="null"` keeps a 100 TB probe alive over corrupt blobs.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, types as T

from sif_spark.operators import multimodal as mm

PROBE_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("orientation", T.IntegerType(), True),
    ]
)
_FIELDS = [f.name for f in PROBE_SCHEMA.fields]


# ---------------------------------------------------------------------------
# MPEG audio (mp3): frame-header walk. ISO/IEC 11172-3 §2.4.1.3 +
# 13818-3 (MPEG-2 LSF) — bitrate/samplerate tables are from the spec.
# ---------------------------------------------------------------------------

# kbit/s by [version-group][layer][bitrate_index]; version group 0 =
# MPEG-1, 1 = MPEG-2/2.5 (LSF). Index 0 is "free format" (unsupported
# here), 15 is forbidden.
_MP3_BITRATES = {
    (0, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    (0, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    (0, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    (1, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    (1, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (1, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
# Hz by [version_bits][samplerate_index]; version_bits: 0=MPEG2.5,
# 2=MPEG2, 3=MPEG1 (1 is reserved)
_MP3_RATES = {
    3: [44100, 48000, 32000],
    2: [22050, 24000, 16000],
    0: [11025, 12000, 8000],
}


def _mp3_frame(blob: bytes, pos: int) -> tuple[int, int, int, int] | None:
    """Parse one MPEG audio frame header at pos. Returns (frame_bytes,
    samples_per_frame, sample_rate, channels) or None if pos doesn't
    hold a valid header."""
    if pos + 4 > len(blob):
        return None
    b1, b2, b3 = blob[pos], blob[pos + 1], blob[pos + 2]
    if b1 != 0xFF or (b2 & 0xE0) != 0xE0:
        return None
    version_bits = (b2 >> 3) & 0x03
    layer_bits = (b2 >> 1) & 0x03
    if version_bits == 1 or layer_bits == 0:
        return None  # reserved
    layer = 4 - layer_bits  # 1/2/3
    vgroup = 0 if version_bits == 3 else 1
    br_idx = (b3 >> 4) & 0x0F
    sr_idx = (b3 >> 2) & 0x03
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free-format / forbidden / reserved
    bitrate = _MP3_BITRATES[(vgroup, layer)][br_idx] * 1000
    rate = _MP3_RATES[version_bits][sr_idx]
    padding = (b3 >> 1) & 0x01
    if layer == 1:
        nbytes = (12 * bitrate // rate + padding) * 4
        samples = 384
    else:
        # MPEG-2/2.5 Layer III frames carry 576 samples (half-rate)
        samples = 576 if (layer == 3 and vgroup == 1) else 1152
        nbytes = samples // 8 * bitrate // rate + padding
    channels = 1 if ((blob[pos + 3] >> 6) & 0x03) == 3 else 2
    if nbytes < 4:
        return None
    return nbytes, samples, rate, channels


def _syncsafe(b: bytes) -> int:
    sz = 0
    for x in b:
        if x & 0x80:
            raise ValueError("ID3v2 syncsafe byte has the sync bit set")
        sz = (sz << 7) | x
    return sz


_ID3_ENCODINGS = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}


def id3_tags(blob: bytes) -> dict[str, str]:
    """ID3v2 TEXT frames (the audio-corpus curation metadata: TIT2
    title, TPE1 artist, TALB album, TDRC/TYER year, TCON genre, ...)
    → {frame_id: text}. Supports v2.2 (3-byte ids/sizes), v2.3 (plain
    frame sizes), and v2.4 (syncsafe frame sizes); all four spec text
    encodings (latin-1 / UTF-16 BOM / UTF-16BE / UTF-8); stops at
    padding. Returns {} when the blob carries no ID3v2 tag. Every
    size is attacker-controlled and bounds-checked; malformed frames
    raise typed ValueError (the `on_error` contract)."""
    if blob[:3] != b"ID3":
        return {}
    if len(blob) < 10:
        raise ValueError("truncated ID3v2 header")
    ver = blob[3]
    if ver not in (2, 3, 4):
        raise ValueError(f"unsupported ID3v2.{ver} tag")
    end = 10 + _syncsafe(blob[6:10])
    if end > len(blob):
        raise ValueError("ID3v2 tag runs past the buffer")
    pos = 10
    if blob[5] & 0x40:  # extended header present
        if pos + 4 > end:
            raise ValueError("truncated ID3v2 extended header")
        ehs = (
            _syncsafe(blob[pos : pos + 4])
            if ver == 4
            else int.from_bytes(blob[pos : pos + 4], "big") + 4
        )
        pos += ehs
    id_len, sz_len, hdr_len = (3, 3, 6) if ver == 2 else (4, 4, 10)
    out: dict[str, str] = {}
    while pos + hdr_len <= end:
        fid = blob[pos : pos + id_len]
        if fid[0] == 0:  # padding
            break
        raw = blob[pos + id_len : pos + id_len + sz_len]
        fsz = (
            _syncsafe(raw)
            if ver == 4
            else int.from_bytes(raw, "big")
        )
        body = pos + hdr_len
        if body + fsz > end:
            raise ValueError(f"ID3v2 frame {fid!r} runs past the tag")
        if fid[:1] == b"T" and fsz >= 1:
            enc = blob[body]
            codec = _ID3_ENCODINGS.get(enc)
            if codec is None:
                raise ValueError(f"ID3v2 text frame with encoding {enc}")
            try:
                text = blob[body + 1 : body + fsz].decode(codec)
            except UnicodeDecodeError as e:
                raise ValueError(f"undecodable ID3v2 text frame: {e}") from None
            out[fid.decode("latin-1")] = text.rstrip("\x00")
        pos = body + fsz
    return out


def encode_id3(tags: dict[str, str], version: int = 4) -> bytes:
    """Author an ID3v2.3/v2.4 tag from text frames (test collateral
    for id3_tags — v4 writes UTF-8, v3 writes UTF-16 with BOM so both
    multi-byte encodings are exercised)."""
    if version not in (3, 4):
        raise ValueError("encode_id3 writes v2.3 or v2.4")

    def syncsafe(n: int) -> bytes:
        return bytes((n >> s) & 0x7F for s in (21, 14, 7, 0))

    frames = b""
    for fid, val in tags.items():
        if len(fid) != 4:
            raise ValueError(f"frame id must be 4 chars, got {fid!r}")
        payload = (
            b"\x03" + val.encode("utf-8")
            if version == 4
            else b"\x01" + val.encode("utf-16")
        )
        size = syncsafe(len(payload)) if version == 4 else len(payload).to_bytes(4, "big")
        frames += fid.encode("latin-1") + size + b"\x00\x00" + payload
    return b"ID3" + bytes([version, 0, 0]) + syncsafe(len(frames)) + frames


def attach_id3(
    df: DataFrame, blob_col: str, id_col: str, on_error: str = "null"
) -> DataFrame:
    """(id, id3: map<string,string>) via Arrow-batched mapInPandas —
    text-frame metadata for audio-corpus curation (dedup by
    title+artist, language/genre stratification). Blobs without a tag
    yield an empty map; malformed tags follow ``on_error``."""
    fields = [T.StructField("id3", T.MapType(T.StringType(), T.StringType()))]
    return mm.blob_stage(
        df, blob_col, id_col, fields, lambda b: (id3_tags(b),), on_error
    )


def probe_mp3(blob: bytes) -> dict:
    """Walk every MPEG audio frame (after an ID3v2 skip): frame count,
    total duration, sample rate, channel count. Requires >= 2 valid
    consecutive frames so random bytes that happen to hold one sync
    pattern don't probe as audio."""
    pos = 0
    if blob[:3] == b"ID3":
        if len(blob) < 10:
            raise ValueError("truncated ID3v2 header")
        # syncsafe 28-bit size, then the tag body
        sz = 0
        for b in blob[6:10]:
            if b & 0x80:
                raise ValueError("ID3v2 size byte has the sync bit set")
            sz = (sz << 7) | b
        pos = 10 + sz
        if pos > len(blob):
            raise ValueError("ID3v2 tag runs past the buffer")
    frames = 0
    samples = 0
    rate = channels = None
    while pos + 4 <= len(blob):
        f = _mp3_frame(blob, pos)
        if f is None:
            break
        nbytes, s, r, ch = f
        if rate is None:
            rate, channels = r, ch
        frames += 1
        samples += s
        pos += nbytes
    if frames < 2 or rate is None:
        raise ValueError(
            "not an MPEG audio stream (fewer than 2 valid consecutive frames)"
        )
    return {
        "format": "mp3",
        "n_frames": frames,
        "duration_s": samples / rate,
        "sample_rate": rate,
        "channels": channels,
        "codec": "mpeg_audio",
    }


def encode_mp3_frames(
    n_frames: int,
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    channels: int = 2,
    id3_bytes: int = 0,
) -> bytes:
    """Test author for probe_mp3: a syntactically valid MPEG-1 Layer
    III frame sequence (correct headers + zero payload — the probe
    never reads payload bytes) behind an optional ID3v2 tag. Payload
    zeros are NOT decodable audio; this authors header-walk fixtures,
    exactly like the other test encoders author codec fixtures."""
    br_idx = _MP3_BITRATES[(0, 3)].index(bitrate_kbps)
    sr_idx = _MP3_RATES[3].index(sample_rate)
    hdr = bytes(
        [
            0xFF,
            0xFB,  # MPEG-1, Layer III, no CRC
            (br_idx << 4) | (sr_idx << 2),
            0xC0 if channels == 1 else 0x00,
        ]
    )
    nbytes = 144 * bitrate_kbps * 1000 // sample_rate
    frame = hdr + bytes(nbytes - 4)
    out = b""
    if id3_bytes:
        out = b"ID3\x04\x00\x00" + bytes(
            [(id3_bytes >> 21) & 0x7F, (id3_bytes >> 14) & 0x7F,
             (id3_bytes >> 7) & 0x7F, id3_bytes & 0x7F]
        ) + bytes(id3_bytes)
    return out + frame * n_frames


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF (ISO/IEC 14496-12): box walk for ftyp/mvhd/tkhd/
# hdlr/stsd. Headers only — sample data stays behind the codec gate.
# ---------------------------------------------------------------------------


def _mp4_boxes(blob: bytes, pos: int, end: int) -> Iterator[tuple[bytes, int, int]]:
    """Yield (type, body_offset, body_end) for each box in [pos, end).
    size==0 means to-end-of-enclosure; size==1 carries a 64-bit
    largesize. Sizes are attacker-controlled — bounds-checked, strictly
    forward."""
    while pos + 8 <= end:
        size = int.from_bytes(blob[pos : pos + 4], "big")
        btype = blob[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if body + 8 > end:
                raise ValueError("truncated MP4 largesize box")
            size = int.from_bytes(blob[body : body + 8], "big")
            body += 8
            if size < 16:
                raise ValueError("MP4 largesize smaller than its header")
        elif size == 0:
            size = end - pos
        elif size < 8:
            raise ValueError("MP4 box size smaller than its header")
        box_end = pos + size
        if box_end > end:
            raise ValueError(f"MP4 box {btype!r} runs past the buffer")
        yield btype, body, box_end
        pos = box_end
    if pos != end:
        raise ValueError("trailing bytes too short for an MP4 box header")


_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def probe_mp4(blob: bytes) -> dict:
    """ftyp major brand, mvhd duration (version 0 and 1), first video
    trak's tkhd dims (16.16 fixed point), and the first stsd sample
    entry's codec fourcc."""
    out: dict = {"format": "mp4"}
    dims_done = False

    def walk(pos: int, end: int) -> None:
        nonlocal dims_done
        for btype, body, box_end in _mp4_boxes(blob, pos, end):
            if btype in _MP4_CONTAINERS:
                walk(body, box_end)
            elif btype == b"ftyp" and box_end - body >= 4:
                out["codec"] = blob[body : body + 4].decode("latin-1").strip()
            elif btype == b"mvhd":
                if box_end - body < 4:
                    raise ValueError("truncated mvhd box")
                ver = blob[body]
                if ver == 1 and box_end - body >= 32:
                    scale = int.from_bytes(blob[body + 20 : body + 24], "big")
                    dur = int.from_bytes(blob[body + 24 : body + 32], "big")
                elif ver == 0 and box_end - body >= 20:
                    scale = int.from_bytes(blob[body + 12 : body + 16], "big")
                    dur = int.from_bytes(blob[body + 16 : body + 20], "big")
                else:
                    raise ValueError("truncated mvhd box")
                if scale:
                    out["duration_s"] = dur / scale
            elif btype == b"tkhd" and not dims_done:
                # width/height sit after ver/flags + times/ids +
                # layer block + the 36-byte matrix: 76 (v0) / 88 (v1)
                if box_end - body < 1:
                    raise ValueError("truncated tkhd box")
                ver = blob[body]
                off = body + (88 if ver == 1 else 76)
                if off + 8 > box_end:
                    raise ValueError("truncated tkhd box")
                w = int.from_bytes(blob[off : off + 4], "big") >> 16
                h = int.from_bytes(blob[off + 4 : off + 8], "big") >> 16
                if w and h:
                    out["width"], out["height"] = w, h
                    dims_done = True
            elif btype == b"stsd" and box_end - body >= 16:
                out.setdefault(
                    "codec_entry", blob[body + 12 : body + 16].decode("latin-1")
                )

    walk(0, len(blob))
    if "codec" not in out and "duration_s" not in out:
        raise ValueError("no ftyp or moov box — not an MP4")
    if "codec_entry" in out:
        out["codec"] = out.pop("codec_entry")
    return out


def encode_mp4_stub(
    width: int,
    height: int,
    duration_ticks: int,
    timescale: int = 1000,
    codec: bytes = b"avc1",
) -> bytes:
    """Test author for probe_mp4: ftyp + a moov tree (mvhd v0, one
    trak with tkhd dims + stbl/stsd carrying the codec fourcc) and an
    empty mdat. Headers only — the sample data a real file would carry
    stays behind the injected-codec gate by design."""

    def box(btype: bytes, payload: bytes) -> bytes:
        return (8 + len(payload)).to_bytes(4, "big") + btype + payload

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mvhd = box(
        b"mvhd",
        bytes(4)  # version 0 + flags
        + bytes(8)  # creation/modification
        + timescale.to_bytes(4, "big")
        + duration_ticks.to_bytes(4, "big")
        + bytes(80),  # rate/volume/matrix/predefines/next-track
    )
    tkhd = box(
        b"tkhd",
        bytes(4) + bytes(8) + (1).to_bytes(4, "big") + bytes(4)
        + duration_ticks.to_bytes(4, "big") + bytes(52)
        + (width << 16).to_bytes(4, "big") + (height << 16).to_bytes(4, "big"),
    )
    stsd = box(
        b"stsd", bytes(4) + (1).to_bytes(4, "big") + box(codec, bytes(70))
    )
    stbl = box(b"stbl", stsd)
    minf = box(b"minf", stbl)
    hdlr = box(b"hdlr", bytes(8) + b"vide" + bytes(12) + b"\x00")
    mdhd = box(
        b"mdhd",
        bytes(4) + bytes(8) + timescale.to_bytes(4, "big")
        + duration_ticks.to_bytes(4, "big") + bytes(4),
    )
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + moov + box(b"mdat", b"")


# ---------------------------------------------------------------------------
# Ogg container (RFC 3533): page walk + the Opus/Vorbis id headers.
# Payload decode stays behind the injected-codec gate; the container
# and id packets are pure public-spec arithmetic.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Matroska / WebM (EBML, RFC 8794 + the Matroska element registry):
# header probe only — vint walk through Segment > Info (timescale,
# duration) and Tracks > TrackEntry (codec, dims / rate+channels).
# Payload decode (VP8/VP9/AV1/H.264, Vorbis/Opus) stays behind the
# injected-codec gate; the CONTAINER walk is pure public-spec
# arithmetic like the MP4 box walk above.
# ---------------------------------------------------------------------------

_EBML_MAGIC = b"\x1aE\xdf\xa3"


def _ebml_vint(blob: bytes, pos: int, keep_marker: bool) -> tuple[int, int]:
    """Parse one EBML variable-length integer at pos → (value,
    next_pos). Element IDs keep the length-marker bit (the registry
    keys include it); sizes strip it. All-ones size payload means
    "unknown size" → returned as -1."""
    if pos >= len(blob):
        raise ValueError("EBML vint past the buffer")
    first = blob[pos]
    if first == 0:
        raise ValueError("invalid EBML vint lead byte 0x00")
    length = 9 - first.bit_length()
    if pos + length > len(blob):
        raise ValueError("truncated EBML vint")
    raw = int.from_bytes(blob[pos : pos + length], "big")
    if keep_marker:
        return raw, pos + length
    val = raw - (1 << (7 * length))
    if val == (1 << (7 * length)) - 1:
        return -1, pos + length  # unknown-size element
    return val, pos + length


def _ebml_walk(blob: bytes, pos: int, end: int):
    """Yield (element_id, body_start, body_end) for each child in
    [pos, end). Unknown-size elements extend to the enclosure end
    (legal only for Segment/Cluster; tolerated generally)."""
    while pos < end:
        eid, pos = _ebml_vint(blob, pos, keep_marker=True)
        size, pos = _ebml_vint(blob, pos, keep_marker=False)
        body_end = end if size < 0 else pos + size
        if body_end > end:
            raise ValueError(f"EBML element 0x{eid:x} runs past the buffer")
        yield eid, pos, body_end
        pos = body_end


def _ebml_uint(blob: bytes, a: int, b: int) -> int:
    if b - a > 8:
        raise ValueError("oversized EBML uint")
    return int.from_bytes(blob[a:b], "big")


def _ebml_float(blob: bytes, a: int, b: int) -> float:
    import struct

    if b - a == 4:
        return struct.unpack(">f", blob[a:b])[0]
    if b - a == 8:
        return struct.unpack(">d", blob[a:b])[0]
    raise ValueError("EBML float must be 4 or 8 bytes")


def probe_mkv(blob: bytes) -> dict:
    """DocType (matroska/webm), duration (TimestampScale x Duration),
    first video track's CodecID + PixelWidth/PixelHeight, or first
    audio track's CodecID + SamplingFrequency/Channels."""
    if blob[:4] != _EBML_MAGIC:
        raise ValueError("not an EBML stream")
    out: dict = {"format": "mkv"}
    timescale = 1_000_000  # Matroska default: ns per timestamp tick
    duration_ticks = None

    def walk_track(a: int, b: int) -> None:
        ttype = None
        fields: dict = {}
        for eid, x, y in _ebml_walk(blob, a, b):
            if eid == 0x83:  # TrackType: 1=video, 2=audio
                ttype = _ebml_uint(blob, x, y)
            elif eid == 0x86:  # CodecID
                fields["codec"] = blob[x:y].decode("latin-1").rstrip("\x00")
            elif eid == 0xE0:  # Video
                for eid2, p, q in _ebml_walk(blob, x, y):
                    if eid2 == 0xB0:
                        fields["width"] = _ebml_uint(blob, p, q)
                    elif eid2 == 0xBA:
                        fields["height"] = _ebml_uint(blob, p, q)
            elif eid == 0xE1:  # Audio
                for eid2, p, q in _ebml_walk(blob, x, y):
                    if eid2 == 0xB5:
                        fields["sample_rate"] = int(_ebml_float(blob, p, q))
                    elif eid2 == 0x9F:
                        fields["channels"] = _ebml_uint(blob, p, q)
        if ttype == 1 and "width" not in out:
            out.update(fields)
        elif ttype == 2 and "sample_rate" not in out and "width" not in out:
            out.update(fields)

    for eid, a, b in _ebml_walk(blob, 0, len(blob)):
        if eid == 0x1A45DFA3:  # EBML header
            for eid2, x, y in _ebml_walk(blob, a, b):
                if eid2 == 0x4282:  # DocType
                    out["format"] = blob[x:y].decode("latin-1").rstrip("\x00")
        elif eid == 0x18538067:  # Segment
            for eid2, x, y in _ebml_walk(blob, a, b):
                if eid2 == 0x1549A966:  # Info
                    for eid3, p, q in _ebml_walk(blob, x, y):
                        if eid3 == 0x2AD7B1:
                            timescale = _ebml_uint(blob, p, q)
                        elif eid3 == 0x4489:
                            duration_ticks = _ebml_float(blob, p, q)
                elif eid2 == 0x1654AE6B:  # Tracks
                    for eid3, p, q in _ebml_walk(blob, x, y):
                        if eid3 == 0xAE:  # TrackEntry
                            walk_track(p, q)
    if out.get("format") == "mkv" and len(out) == 1:
        raise ValueError("EBML stream with no Matroska content")
    if duration_ticks is not None:
        out["duration_s"] = duration_ticks * timescale / 1e9
    return out


def _ebml_el(eid: int, payload: bytes) -> bytes:
    """Author one EBML element (test collateral): marker-bit id bytes
    + minimal-length size vint + payload."""
    idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = len(payload)
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:
            break
    size = (n + (1 << (7 * length))).to_bytes(length, "big")
    return idb + size + payload


def encode_mkv_stub(
    doc_type: str = "webm",
    duration_s: float | None = 2.5,
    video: tuple[str, int, int] | None = ("V_VP9", 640, 360),
    audio: tuple[str, int, int] | None = None,
) -> bytes:
    """Test author for probe_mkv: EBML header + Segment(Info, Tracks).
    Headers only — sample payloads stay behind the injected-codec
    gate by design (the AVI/MP4 stubs' contract)."""
    import struct

    ebml = _ebml_el(0x1A45DFA3, _ebml_el(0x4282, doc_type.encode()))
    info = b""
    if duration_s is not None:
        info = _ebml_el(0x2AD7B1, (1_000_000).to_bytes(3, "big")) + _ebml_el(
            0x4489, struct.pack(">d", duration_s * 1000)
        )
    tracks = b""
    if video:
        codec, w, h = video
        tracks += _ebml_el(
            0xAE,
            _ebml_el(0x83, b"\x01")
            + _ebml_el(0x86, codec.encode())
            + _ebml_el(
                0xE0,
                _ebml_el(0xB0, w.to_bytes(2, "big"))
                + _ebml_el(0xBA, h.to_bytes(2, "big")),
            ),
        )
    if audio:
        codec, rate, ch = audio
        tracks += _ebml_el(
            0xAE,
            _ebml_el(0x83, b"\x02")
            + _ebml_el(0x86, codec.encode())
            + _ebml_el(
                0xE1,
                _ebml_el(0xB5, struct.pack(">f", float(rate)))
                + _ebml_el(0x9F, ch.to_bytes(1, "big")),
            ),
        )
    segment = _ebml_el(
        0x18538067, _ebml_el(0x1549A966, info) + _ebml_el(0x1654AE6B, tracks)
    )
    return ebml + segment


def probe_ogg(blob: bytes) -> dict:
    """Walk every Ogg page: codec from the BOS page's id packet
    (OpusHead / \\x01vorbis), duration from the last page's granule
    position (Opus granules tick at 48 kHz regardless of the input
    rate, minus pre-skip; Vorbis at the stream rate)."""
    pos = 0
    codec = None
    channels = rate = None
    granule_rate = None
    pre_skip = 0
    last_granule = None
    npages = 0
    while pos + 27 <= len(blob):
        if blob[pos : pos + 4] != b"OggS":
            raise ValueError(f"bad Ogg page magic at offset {pos}")
        header_type = blob[pos + 5]
        granule = int.from_bytes(blob[pos + 6 : pos + 14], "little", signed=True)
        nseg = blob[pos + 26]
        seg_table = blob[pos + 27 : pos + 27 + nseg]
        if len(seg_table) < nseg:
            raise ValueError("truncated Ogg segment table")
        body = pos + 27 + nseg
        body_len = sum(seg_table)
        if body + body_len > len(blob):
            raise ValueError("Ogg page body runs past the buffer")
        if header_type & 0x02 and codec is None:  # BOS page: id packet
            pkt = blob[body : body + body_len]
            if pkt[:8] == b"OpusHead" and len(pkt) >= 19:
                codec = "opus"
                channels = pkt[9]
                pre_skip = int.from_bytes(pkt[10:12], "little")
                rate = int.from_bytes(pkt[12:16], "little")
                granule_rate = 48000
            elif pkt[:7] == b"\x01vorbis" and len(pkt) >= 16:
                codec = "vorbis"
                channels = pkt[11]
                rate = int.from_bytes(pkt[12:16], "little")
                granule_rate = rate
        if granule >= 0:
            last_granule = granule
        npages += 1
        pos = body + body_len
    if npages == 0:
        raise ValueError("no Ogg pages found")
    if pos != len(blob):
        raise ValueError("trailing bytes after the last Ogg page")
    out: dict = {"format": "ogg", "codec": codec or "unknown"}
    if channels is not None:
        out["channels"] = channels
    if rate is not None:
        out["sample_rate"] = rate
    if last_granule is not None and granule_rate:
        n = max(0, last_granule - pre_skip)
        out["n_frames"] = n
        out["duration_s"] = n / granule_rate
    return out


def encode_ogg_stub(
    codec: str = "opus",
    channels: int = 2,
    sample_rate: int = 48000,
    total_samples: int = 9600,
    pre_skip: int = 312,
) -> bytes:
    """Test author for probe_ogg: a BOS page carrying the real id
    packet layout, one zero-payload data page, and an EOS page whose
    granule encodes ``total_samples`` (+pre_skip for Opus, matching
    the granule convention). CRCs are zeroed — the probe is
    bounds-checked, not CRC-checked, like real scanners that survive
    streamed/abridged files."""

    def page(header_type: int, granule: int, seq: int, payload: bytes) -> bytes:
        segs = []
        rem = len(payload)
        while rem >= 255:
            segs.append(255)
            rem -= 255
        segs.append(rem)
        return (
            b"OggS\x00"
            + bytes([header_type])
            + granule.to_bytes(8, "little", signed=True)
            + (7).to_bytes(4, "little")  # serial
            + seq.to_bytes(4, "little")
            + bytes(4)  # crc zeroed
            + bytes([len(segs)])
            + bytes(segs)
            + payload
        )

    if codec == "opus":
        ident = (
            b"OpusHead\x01"
            + bytes([channels])
            + pre_skip.to_bytes(2, "little")
            + sample_rate.to_bytes(4, "little")
            + bytes(3)
        )
        final_granule = total_samples + pre_skip
    elif codec == "vorbis":
        ident = (
            b"\x01vorbis" + bytes(4) + bytes([channels])
            + sample_rate.to_bytes(4, "little") + bytes(13)
        )
        final_granule = total_samples
        pre_skip = 0
    else:
        raise ValueError("codec must be opus or vorbis")
    return (
        page(0x02, 0, 0, ident)
        + page(0x00, final_granule // 2, 1, bytes(10))
        + page(0x04, final_granule, 2, b"")
    )


# ---------------------------------------------------------------------------
# Vorbis comments (FLAC VORBIS_COMMENT blocks, Ogg OpusTags/Vorbis
# comment headers) + the unified audio-tags stage. With id3_tags this
# closes metadata curation across all three audio families.
# ---------------------------------------------------------------------------


def _parse_vorbis_comment(buf: bytes) -> dict[str, str]:
    """The Vorbis comment struct (vendor string + KEY=value list,
    little-endian u32 lengths). Keys are case-insensitive per spec —
    normalized to UPPERCASE. Bounds-checked, typed errors."""
    if len(buf) < 4:
        raise ValueError("truncated Vorbis comment (vendor length)")
    vlen = int.from_bytes(buf[0:4], "little")
    pos = 4 + vlen
    if pos + 4 > len(buf):
        raise ValueError("truncated Vorbis comment (count)")
    count = int.from_bytes(buf[pos : pos + 4], "little")
    pos += 4
    if count > 10_000:
        raise ValueError("Vorbis comment count exceeds cap")
    out: dict[str, str] = {}
    for _ in range(count):
        if pos + 4 > len(buf):
            raise ValueError("truncated Vorbis comment entry length")
        clen = int.from_bytes(buf[pos : pos + 4], "little")
        pos += 4
        if pos + clen > len(buf):
            raise ValueError("Vorbis comment entry runs past the buffer")
        try:
            entry = buf[pos : pos + clen].decode("utf-8")
        except UnicodeDecodeError as e:
            raise ValueError(f"undecodable Vorbis comment: {e}") from None
        pos += clen
        key, sep, val = entry.partition("=")
        if sep:
            out[key.upper()] = val
    return out


def vorbis_comments(blob: bytes) -> dict[str, str]:
    """Vorbis comments from a FLAC blob (metadata block type 4) or an
    Ogg stream (OpusTags / \x03vorbis comment header on an early
    page; single-page comment packets — the universal real-world
    layout for tags). Returns {} when the stream carries none."""
    if blob[:4] == b"fLaC":
        pos = 4
        while pos + 4 <= len(blob):
            hdr = blob[pos]
            size = int.from_bytes(blob[pos + 1 : pos + 4], "big")
            body = pos + 4
            if body + size > len(blob):
                raise ValueError("FLAC metadata block runs past the buffer")
            if hdr & 0x7F == 4:
                return _parse_vorbis_comment(blob[body : body + size])
            if hdr & 0x80:
                return {}
            pos = body + size
        raise ValueError("truncated FLAC metadata chain")
    if blob[:4] == b"OggS":
        pos = 0
        while pos + 27 <= len(blob):
            if blob[pos : pos + 4] != b"OggS":
                raise ValueError(f"bad Ogg page magic at offset {pos}")
            nseg = blob[pos + 26]
            seg_table = blob[pos + 27 : pos + 27 + nseg]
            if len(seg_table) < nseg:
                raise ValueError("truncated Ogg segment table")
            body = pos + 27 + nseg
            body_len = sum(seg_table)
            if body + body_len > len(blob):
                raise ValueError("Ogg page body runs past the buffer")
            pkt = blob[body : body + body_len]
            if pkt[:8] == b"OpusTags":
                return _parse_vorbis_comment(pkt[8:])
            if pkt[:7] == b"\x03vorbis":
                return _parse_vorbis_comment(pkt[7:])
            pos = body + body_len
        return {}
    raise ValueError("not a FLAC or Ogg blob")


def audio_tags(blob: bytes) -> dict[str, str]:
    """Unified audio-metadata extraction: ID3v2 (mp3), FLAC Vorbis
    comments, and Ogg OpusTags/Vorbis comments through one sniffed
    dispatch — the title/artist curation keys regardless of codec.
    {} when the stream carries no tags; typed errors on malformed."""
    if blob[:3] == b"ID3":
        return id3_tags(blob)
    if blob[:4] in (b"fLaC", b"OggS"):
        return vorbis_comments(blob)
    if len(blob) > 1 and blob[0] == 0xFF and (blob[1] & 0xE0) == 0xE0:
        return {}  # bare mp3 frames: no tag container present
    raise NotImplementedError(
        "no tag reader for this format: built-ins cover ID3v2 (mp3), "
        "FLAC, and Ogg"
    )


def attach_audio_tags(
    df: DataFrame, blob_col: str, id_col: str, on_error: str = "null"
) -> DataFrame:
    """(id, tags: map<string,string>) via Arrow-batched mapInPandas —
    the cross-codec audio curation stage (attach_id3 generalized)."""
    fields = [T.StructField("tags", T.MapType(T.StringType(), T.StringType()))]
    return mm.blob_stage(
        df, blob_col, id_col, fields, lambda b: (audio_tags(b),), on_error
    )


def _vorbis_comment_bytes(tags: dict[str, str], vendor: bytes = b"sif") -> bytes:
    out = len(vendor).to_bytes(4, "little") + vendor
    out += len(tags).to_bytes(4, "little")
    for k, v in tags.items():
        entry = f"{k}={v}".encode("utf-8")
        out += len(entry).to_bytes(4, "little") + entry
    return out


def add_flac_tags(blob: bytes, tags: dict[str, str]) -> bytes:
    """Inject a VORBIS_COMMENT metadata block into a FLAC stream (test
    collateral for vorbis_comments): existing blocks lose their
    last-block flag; the comment block closes the chain."""
    if blob[:4] != b"fLaC":
        raise ValueError("not a FLAC blob")
    pos = 4
    blocks = []
    while True:
        hdr = blob[pos]
        size = int.from_bytes(blob[pos + 1 : pos + 4], "big")
        blocks.append(bytes([hdr & 0x7F]) + blob[pos + 1 : pos + 4 + size])
        pos += 4 + size
        if hdr & 0x80:
            break
    vc = _vorbis_comment_bytes(tags)
    comment = bytes([0x80 | 4]) + len(vc).to_bytes(3, "big") + vc
    return b"fLaC" + b"".join(blocks) + comment + blob[pos:]


def encode_ogg_tags(tags: dict[str, str], **stub_kwargs) -> bytes:
    """An Ogg Opus stream (encode_ogg_stub layout) with an OpusTags
    comment page inserted after the BOS page."""
    base = encode_ogg_stub(codec="opus", **stub_kwargs)
    # split the stub's three pages and renumber around the insert
    pages = []
    pos = 0
    while pos < len(base):
        nseg = base[pos + 26]
        body_len = sum(base[pos + 27 : pos + 27 + nseg])
        end = pos + 27 + nseg + body_len
        pages.append(bytearray(base[pos:end]))
        pos = end
    payload = b"OpusTags" + _vorbis_comment_bytes(tags)
    segs = [255] * (len(payload) // 255) + [len(payload) % 255]
    tag_page = bytearray(
        b"OggS\x00\x00"
        + (0).to_bytes(8, "little", signed=True)
        + (7).to_bytes(4, "little")
        + (1).to_bytes(4, "little")
        + bytes(4)
        + bytes([len(segs)])
        + bytes(segs)
        + payload
    )
    tag_page[6:14] = (-1).to_bytes(8, "little", signed=True)  # no granule
    for i, pg in enumerate(pages[1:], start=2):
        pg[18:22] = i.to_bytes(4, "little")  # bump sequence numbers
    return bytes(pages[0]) + bytes(tag_page) + b"".join(map(bytes, pages[1:]))


# ---------------------------------------------------------------------------
# Header-only probes for the formats with built-in codecs
# ---------------------------------------------------------------------------


def _probe_gif(blob: bytes) -> dict:
    """Screen dims + frame count WITHOUT LZW decode: image descriptors
    and their data sub-blocks skip by length alone."""
    if len(blob) < 13:
        raise ValueError("truncated GIF header")
    w = int.from_bytes(blob[6:8], "little")
    h = int.from_bytes(blob[8:10], "little")
    pos = 13
    if blob[10] & 0x80:
        pos += (2 << (blob[10] & 0x07)) * 3
    frames = 0
    try:
        while pos < len(blob):
            block = blob[pos]
            pos += 1
            if block == 0x3B:
                break
            if block == 0x21:
                pos += 1
                while blob[pos] != 0:
                    pos += 1 + blob[pos]
                pos += 1
            elif block == 0x2C:
                ipacked = blob[pos + 8]
                pos += 9
                if ipacked & 0x80:
                    pos += (2 << (ipacked & 0x07)) * 3
                pos += 1  # LZW min code size
                while blob[pos] != 0:
                    pos += 1 + blob[pos]
                pos += 1
                frames += 1
            else:
                raise ValueError(f"unknown GIF block 0x{block:02x}")
    except IndexError:
        raise ValueError("truncated GIF stream") from None
    return {"format": "gif", "width": w, "height": h, "n_frames": frames}


def _exif_orientation(tiff: bytes) -> int | None:
    """Orientation (tag 274) from the Exif TIFF structure's IFD0 —
    a 20-line IFD walk, either byte order, bounds-checked."""
    if tiff[:4] == b"II*\x00":
        bo = "little"
    elif tiff[:4] == b"MM\x00*":
        bo = "big"
    else:
        return None
    if len(tiff) < 8:
        return None
    off = int.from_bytes(tiff[4:8], bo)
    if off + 2 > len(tiff):
        return None
    n = int.from_bytes(tiff[off : off + 2], bo)
    for i in range(n):
        e = off + 2 + 12 * i
        if e + 12 > len(tiff):
            return None
        tag = int.from_bytes(tiff[e : e + 2], bo)
        if tag == 274:
            # SHORT, count 1: value left-justified in the 4-byte field
            return int.from_bytes(tiff[e + 8 : e + 10], bo)
    return None


def _probe_jpeg(blob: bytes) -> dict:
    """Marker walk to the first SOFn for dims — no entropy decode.
    APP1 Exif segments contribute ``orientation`` (tag 274), the
    field a preprocessing pipeline MUST honor before resize/crop or
    every portrait photo trains sideways (imageops.auto_orient)."""
    pos = 2
    orientation = None
    try:
        while pos + 4 <= len(blob):
            if blob[pos] != 0xFF:
                raise ValueError("JPEG marker walk desynchronized")
            marker = blob[pos + 1]
            if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            seglen = int.from_bytes(blob[pos + 2 : pos + 4], "big")
            if marker == 0xE1 and blob[pos + 4 : pos + 10] == b"Exif\x00\x00":
                got = _exif_orientation(blob[pos + 10 : pos + 2 + seglen])
                if got is not None:
                    orientation = got
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h = int.from_bytes(blob[pos + 5 : pos + 7], "big")
                w = int.from_bytes(blob[pos + 7 : pos + 9], "big")
                ncomp = blob[pos + 9]
                out = {
                    "format": "jpeg",
                    "width": w,
                    "height": h,
                    "channels": ncomp,
                    "codec": "progressive" if marker == 0xC2 else "baseline",
                }
                if orientation is not None:
                    out["orientation"] = orientation
                return out
            pos += 2 + seglen
    except IndexError:
        raise ValueError("truncated JPEG stream") from None
    raise ValueError("JPEG has no SOF marker")


def probe_media(blob: bytes) -> dict:
    """Sniffed header-only dispatch → a dict of PROBE_SCHEMA fields.
    Every format with a built-in codec probes from its header alone;
    mp3 and mp4 probe even though their PAYLOAD decode stays behind
    the injected-codec gate. Unknown bytes raise NotImplementedError
    (the typed contract `on_error="null"` relies on)."""
    if blob[:2] in (b"P6", b"P5"):
        toks, _ = mm._ppm_header_tokens(blob, 3)
        return {
            "format": "ppm" if blob[:2] == b"P6" else "pgm",
            "width": toks[0],
            "height": toks[1],
            "channels": 3 if blob[:2] == b"P6" else 1,
        }
    if blob[:2] == b"BM":
        if len(blob) < 30:
            raise ValueError("truncated BMP header")
        return {
            "format": "bmp",
            "width": int.from_bytes(blob[18:22], "little", signed=True),
            "height": abs(int.from_bytes(blob[22:26], "little", signed=True)),
            "channels": 3,
        }
    if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        from sif_spark.operators.video import _riff_chunks

        rate = channels = bits = data_size = None
        end = min(8 + int.from_bytes(blob[4:8], "little"), len(blob))
        for cc, b, sz in _riff_chunks(blob, 12, end):
            if cc == b"fmt " and sz >= 16:
                channels = int.from_bytes(blob[b + 2 : b + 4], "little")
                rate = int.from_bytes(blob[b + 4 : b + 8], "little")
                bits = int.from_bytes(blob[b + 14 : b + 16], "little")
            elif cc == b"data":
                data_size = sz
        if not rate or not channels or not bits or data_size is None:
            raise ValueError("WAV missing fmt or data chunk")
        n = data_size // (channels * (bits // 8 or 1))
        return {
            "format": "wav",
            "n_frames": n,
            "duration_s": n / rate,
            "sample_rate": rate,
            "channels": channels,
            "codec": "pcm",
        }
    if blob[:4] == b"RIFF" and blob[8:12] == b"AVI ":
        from sif_spark.operators.video import parse_avi

        meta = parse_avi(blob)
        vids = [s for s in meta["streams"] if s.get("type") == "vids"]
        return {
            "format": "avi",
            "width": meta["width"],
            "height": meta["height"],
            "n_frames": meta["total_frames"],
            "duration_s": meta.get("duration_s"),
            "codec": vids[0].get("compression") if vids else None,
        }
    if blob[:8] == mm._PNG_SIG:
        if len(blob) < 24:
            raise ValueError("truncated PNG header")
        return {
            "format": "png",
            "width": int.from_bytes(blob[16:20], "big"),
            "height": int.from_bytes(blob[20:24], "big"),
        }
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        return _probe_gif(blob)
    if blob[:4] in (b"II*\x00", b"MM\x00*"):
        arr = mm.decode_tiff(blob)
        return {
            "format": "tiff",
            "width": int(arr.shape[1]),
            "height": int(arr.shape[0]),
            "channels": int(arr.shape[2]) if arr.ndim == 3 else 1,
        }
    if blob[:3] == b"\xff\xd8\xff":
        return _probe_jpeg(blob)
    if blob[:4] == b"fLaC":
        from sif_spark.operators.flac import parse_flac_header

        info, _ = parse_flac_header(blob)
        return {
            "format": "flac",
            "n_frames": info["total_samples"],
            "duration_s": info["total_samples"] / info["sample_rate"]
            if info["total_samples"]
            else None,
            "sample_rate": info["sample_rate"],
            "channels": info["channels"],
            "codec": "flac",
        }
    if blob[:3] == b"ID3" or (
        len(blob) > 1 and blob[0] == 0xFF and (blob[1] & 0xE0) == 0xE0
    ):
        return probe_mp3(blob)
    if blob[:4] == b"OggS":
        return probe_ogg(blob)
    if blob[4:8] in (b"ftyp", b"moov"):
        return probe_mp4(blob)
    if blob[:4] == _EBML_MAGIC:
        return probe_mkv(blob)
    if blob[:9] == b"YUV4MPEG2":
        from sif_spark.operators.video import parse_y4m

        m = parse_y4m(blob)
        return {
            "format": "y4m",
            "width": m["width"],
            "height": m["height"],
            "n_frames": m["n_frames"],
            "duration_s": m["n_frames"] / m["fps"] if m["fps"] else None,
            "codec": m["colorspace"],
            "channels": 1 if m["colorspace"] == "Cmono" else 3,
        }
    raise NotImplementedError(
        "no header probe for this format: built-ins cover "
        "ppm/pgm/bmp/wav/png/gif/tiff/jpeg/avi/flac/mp3/mp4/ogg/y4m/"
        "mkv/webm"
    )


def attach_probe(
    df: DataFrame,
    blob_col: str,
    id_col: str,
    on_error: str = "null",
) -> DataFrame:
    """(id, probe: PROBE_SCHEMA struct) via Arrow-batched mapInPandas —
    the metadata-only scan a pipeline runs over a fresh corpus before
    deciding what to decode. Default ``on_error="null"`` (unlike the
    decoders) because a probe's whole job is surveying unknown bytes."""

    def probe(b: bytes) -> tuple:
        p = probe_media(b)
        return (tuple(p.get(k) for k in _FIELDS),)

    fields = [T.StructField("probe", PROBE_SCHEMA)]
    return mm.blob_stage(df, blob_col, id_col, fields, probe, on_error)
