"""WebDataset tar-shard reading: the ustar walk (validated against
stdlib tarfile as an INDEPENDENT writer — USTAR, PAX, and GNU
formats), typed errors, fuzz, and the Spark explode/group stages."""

from __future__ import annotations

import io
import tarfile

import numpy as np
import pytest

from sif_spark.operators.webdataset import (
    iter_tar_members,
    untar_blobs,
    webdataset_samples,
)


def make_tar(entries, format=tarfile.USTAR_FORMAT):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=format) as tf:
        for name, data in entries:
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            tf.addfile(ti, io.BytesIO(data))
    return buf.getvalue()


def test_tar_walk_matches_stdlib_across_formats():
    """Our reader's output must equal tarfile's own read-back for
    every format tarfile writes (asymmetric round trip: stdlib is the
    authoritative author)."""
    entries = [
        ("000001.txt", b"hello"),
        ("000001.cls", b"3"),
        ("sub/dir/000002.seg.json", b"{}"),
        ("000002.bin", bytes(600)),
        ("padding_check.bin", b"x" * 511),  # non-multiple-of-512 payload
    ]
    for fmt in (tarfile.USTAR_FORMAT, tarfile.PAX_FORMAT, tarfile.GNU_FORMAT):
        blob = make_tar(entries, fmt)
        ours = list(iter_tar_members(blob))
        with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
            theirs = [
                (m.name, tf.extractfile(m).read())
                for m in tf.getmembers()
                if m.isreg()
            ]
        assert ours == theirs, fmt


def test_tar_skips_directories_and_verifies_checksum():
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        d = tarfile.TarInfo("adir")
        d.type = tarfile.DIRTYPE
        tf.addfile(d)
        ti = tarfile.TarInfo("adir/f.txt")
        ti.size = 2
        tf.addfile(ti, io.BytesIO(b"ok"))
    blob = bytearray(buf.getvalue())
    assert list(iter_tar_members(bytes(blob))) == [("adir/f.txt", b"ok")]
    blob[0] ^= 0xFF  # corrupt the first header byte
    with pytest.raises(ValueError, match="checksum"):
        list(iter_tar_members(bytes(blob)))


def test_tar_typed_errors_and_fuzz():
    good = make_tar([("a.txt", b"abc"), ("b.bin", bytes(700))])
    # size field running past the buffer
    bad = bytearray(good)
    with pytest.raises(ValueError, match="runs past|checksum"):
        list(iter_tar_members(bytes(bad[: 512 + 1])))
    rng = np.random.default_rng(41)
    for _ in range(300):
        b = bytearray(good)
        for _ in range(rng.integers(1, 6)):
            b[rng.integers(0, len(b))] = rng.integers(0, 256)
        try:
            list(iter_tar_members(bytes(b)))
        except (ValueError, NotImplementedError):
            pass


def test_untar_and_sample_grouping_spark(spark):
    shard = make_tar(
        [
            ("000001.txt", b"hello"),
            ("000001.cls", b"3"),
            ("000002.txt", b"bye"),
            ("000002.cls", b"7"),
            ("d/000003.seg.json", b"{}"),
            ("d/000003.txt", b"x"),
            ("noext", b"raw"),
        ]
    )
    df = spark.createDataFrame(
        [(1, shard), (2, b"not a tar shard at all!")],
        "shard_id long, blob binary",
    )
    with pytest.raises(Exception):
        untar_blobs(df, "blob", "shard_id").collect()  # on_error default raises
    m = untar_blobs(df, "blob", "shard_id", on_error="null")
    s = {
        (r["shard_id"], r["key"]): (
            r["n_parts"],
            {k: bytes(v) for k, v in r["parts"].items()},
        )
        for r in webdataset_samples(m, "shard_id").collect()
    }
    assert s[(1, "000001")] == (2, {"txt": b"hello", "cls": b"3"})
    assert s[(1, "000002")] == (2, {"txt": b"bye", "cls": b"7"})
    # WebDataset key rule: first dot of the BASENAME; directory kept
    assert s[(1, "d/000003")] == (2, {"seg.json": b"{}", "txt": b"x"})
    assert s[(1, "noext")] == (1, {"": b"raw"})
    assert not any(k[0] == 2 for k in s)  # corrupt shard dropped


def test_write_webdataset_roundtrip_and_determinism(spark):
    """The export path: hash-assigned shards, key-sorted deterministic
    layout — identical shard BYTES across partitionings; re-reading
    through our own walker recovers every sample exactly."""
    from sif_spark.operators.webdataset import write_webdataset

    rows = [
        (f"{i:06d}", {"txt": f"text {i}".encode(), "cls": str(i % 7).encode()})
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "key string, parts map<string,binary>")
    shards = write_webdataset(df, n_shards=4, hash_fn="hash60")
    back = webdataset_samples(untar_blobs(shards, "blob", "shard_id"), "shard_id")
    got = {r["key"]: {k: bytes(v) for k, v in r["parts"].items()}
           for r in back.collect()}
    assert got == dict(rows)
    b1 = {r["shard_id"]: bytes(r["blob"])
          for r in write_webdataset(df, n_shards=4, hash_fn="hash60").collect()}
    b2 = {r["shard_id"]: bytes(r["blob"])
          for r in write_webdataset(df.repartition(7), n_shards=4,
                                    hash_fn="hash60").collect()}
    assert b1 == b2
    # the shards are REAL tars: stdlib reads them back too
    import io as _io
    import tarfile as _tarfile
    with _tarfile.open(fileobj=_io.BytesIO(b1[0])) as tf:
        names = [m.name for m in tf.getmembers()]
    assert names == sorted(names) and names
    with pytest.raises(ValueError, match="n_shards"):
        write_webdataset(df, n_shards=0)
    with pytest.raises(ValueError, match="hash_fn"):
        write_webdataset(df, hash_fn="crc32")


# ---------------------------------------------------------------------------
# Zip shards
# ---------------------------------------------------------------------------


def make_zip(entries, method=None):
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(
        buf, "w", method if method is not None else zipfile.ZIP_DEFLATED
    ) as z:
        for name, data in entries:
            z.writestr(name, data)
    return buf.getvalue()


def test_zip_walk_matches_stdlib_both_methods():
    import zipfile

    from sif_spark.operators.webdataset import iter_zip_members

    entries = [
        ("000001.txt", b"hello world " * 50),
        ("000001.cls", b"3"),
        ("d/000002.bin", bytes(range(256)) * 3),
    ]
    for method in (zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED):
        blob = make_zip(entries, method)
        ours = list(iter_zip_members(blob))
        with zipfile.ZipFile(io.BytesIO(blob)) as z:
            theirs = [(i.filename, z.read(i)) for i in z.infolist()
                      if not i.is_dir()]
        assert ours == theirs, method
    # directories skipped; trailing archive comment tolerated
    import zipfile as _zf
    buf = io.BytesIO()
    with _zf.ZipFile(buf, "w") as z:
        z.writestr("adir/", b"")
        z.writestr("f.txt", b"ok")
        z.comment = b"trailing archive comment"
    assert list(iter_zip_members(buf.getvalue())) == [("f.txt", b"ok")]


def test_zip_typed_errors_and_fuzz():
    from sif_spark.operators.webdataset import iter_zip_members

    with pytest.raises(ValueError, match="end-of-central-directory"):
        list(iter_zip_members(b"not a zip at all"))
    good = bytearray(make_zip([("a.txt", b"abcdef" * 100)]))
    # flip a payload byte -> CRC failure (typed)
    bad = bytearray(good)
    bad[40] ^= 0xFF
    with pytest.raises((ValueError, NotImplementedError)):
        list(iter_zip_members(bytes(bad)))
    rng = np.random.default_rng(51)
    for _ in range(300):
        b = bytearray(good)
        for _ in range(rng.integers(1, 6)):
            b[rng.integers(0, len(b))] = rng.integers(0, 256)
        try:
            list(iter_zip_members(bytes(b)))
        except (ValueError, NotImplementedError):
            pass


def test_unzip_blobs_and_grouping_spark(spark):
    from sif_spark.operators.webdataset import unzip_blobs

    shard = make_zip([("000001.txt", b"hi"), ("000001.cls", b"5")])
    df = spark.createDataFrame(
        [(1, shard), (2, b"garbage, not zip")], "shard_id long, blob binary"
    )
    m = unzip_blobs(df, "blob", "shard_id", on_error="null")
    s = {r["key"]: {k: bytes(v) for k, v in r["parts"].items()}
         for r in webdataset_samples(m, "shard_id").collect()}
    assert s == {"000001": {"txt": b"hi", "cls": b"5"}}


def test_duplicate_member_last_wins(spark):
    """ADVICE r8: a tar legally carrying two members with the same
    stem+ext (later overrides on extract) must dedupe last-wins instead
    of failing map_from_entries with a duplicate-key error."""
    shard = make_tar(
        [
            ("000001.txt", b"first"),
            ("000001.cls", b"3"),
            ("000001.txt", b"second"),  # overrides on extract
        ]
    )
    df = spark.createDataFrame([(1, shard)], "shard_id long, blob binary")
    m = untar_blobs(df, "blob", "shard_id")
    rows = webdataset_samples(m, "shard_id").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_parts"] == 2
    assert {k: bytes(v) for k, v in r["parts"].items()} == {
        "txt": b"second",
        "cls": b"3",
    }


def test_null_drops_a_shard_whose_later_member_fails(spark):
    """on_error='null' drops a corrupt shard whole, even when its walk
    has already yielded members: a two-member tar whose second header
    fails its checksum, and a two-member zip whose second local header
    is bad, emit zero rows next to an intact shard."""
    from sif_spark.operators.webdataset import iter_zip_members, unzip_blobs

    entries = [("a.txt", b"one"), ("b.txt", b"two")]
    tar = bytearray(make_tar(entries))
    tar[1024] ^= 0xFF  # the second member's header starts at 1024
    zipped = bytearray(make_zip(entries))
    zipped[zipped.index(b"PK\x03\x04", 1)] ^= 0xFF
    for explode, walk, good, bad, msg in (
        (untar_blobs, iter_tar_members, make_tar(entries), bytes(tar),
         "checksum mismatch at offset 1024"),
        (unzip_blobs, iter_zip_members, make_zip(entries), bytes(zipped),
         "bad local header"),
    ):
        members = walk(bad)
        assert next(members) == ("a.txt", b"one")
        with pytest.raises(ValueError, match=msg):
            next(members)
        df = spark.createDataFrame(
            [(1, good), (2, bad)], "shard_id long, blob binary"
        ).coalesce(1)
        got = sorted(
            (r["shard_id"], r["member"])
            for r in explode(df, "blob", "shard_id", on_error="null").collect()
        )
        assert got == [(1, "a.txt"), (1, "b.txt")]
