"""The LogStore contract (sif_spark/logstore.py): every storage
operation a table path uses — the atomic replace, bytes reads,
``exists``, the checked rename, the recursive delete and the data-byte
size — run against PosixExclLogStore and HadoopRenameLogStore on a
local temp dir, with the same assertions. The put-if-absent races are
in tests/test_logstore.py."""

from __future__ import annotations

import os
import threading

import pytest

from sif_spark.logstore import (
    HadoopRenameLogStore,
    PosixExclLogStore,
    store_for,
)


@pytest.fixture(params=["posix", "hadoop"])
def store(request):
    if request.param == "posix":
        return PosixExclLogStore()
    return HadoopRenameLogStore(request.getfixturevalue("spark"))


def test_store_replace_overwrites_and_is_never_half_written(store, tdir):
    path = f"{tdir}/meta/state.json"
    store.replace(path, b"first")  # creates the parent dir
    store.replace(path, b"second")
    assert store.read_bytes(path) == b"second"
    assert store.read_text(path) == "second"
    assert store.list_names(f"{tdir}/meta") == ["state.json"]  # no tmp left

    # a read racing the writer returns a whole payload, never a prefix.
    # On a local FS the Hadoop store renames the data file and its .crc
    # one after the other, so a racing read may also find no file or a
    # checksum mismatch: it raises, as for a missing or garbled file
    big = [bytes([65 + i]) * 200_000 for i in range(2)]
    seen, stop = [], threading.Event()

    def read_loop():
        while not stop.is_set():
            try:
                seen.append(store.read_bytes(path))
            except (FileNotFoundError, ValueError):
                pass
            except Exception as e:  # surfaced by the assertion below
                seen.append(e)

    reader = threading.Thread(target=read_loop)
    reader.start()
    try:
        for i in range(20):
            store.replace(path, big[i % 2])
    finally:
        stop.set()
        reader.join()
    bad = [b if isinstance(b, Exception) else len(b)
           for b in seen if b not in (b"second", *big)]
    assert seen and not bad, bad[:5]
    assert store.read_bytes(path) == big[1]


def test_store_read_of_missing_file_raises_file_not_found(store, tdir):
    with pytest.raises(FileNotFoundError):
        store.read_bytes(f"{tdir}/nope.json")
    with pytest.raises(FileNotFoundError):
        store.read_text(f"{tdir}/nope.json")
    assert not store.exists(f"{tdir}/nope.json")
    assert store.list_names(f"{tdir}/no_dir") == []


def test_store_rename_onto_existing_destination_fails(store, tdir):
    store.replace(f"{tdir}/a", b"a")
    store.replace(f"{tdir}/b", b"b")
    with pytest.raises(OSError):
        store.rename(f"{tdir}/a", f"{tdir}/b")
    assert store.read_bytes(f"{tdir}/a") == b"a"
    assert store.read_bytes(f"{tdir}/b") == b"b"
    store.replace(f"{tdir}/d1/x", b"x")
    store.replace(f"{tdir}/d2/y", b"y")
    with pytest.raises(OSError):
        store.rename(f"{tdir}/d1", f"{tdir}/d2")
    assert sorted(store.list_names(f"{tdir}/d2")) == ["y"]
    store.rename(f"{tdir}/d1", f"{tdir}/d3")
    assert not store.exists(f"{tdir}/d1")
    assert store.read_bytes(f"{tdir}/d3/x") == b"x"


def test_store_delete_is_recursive_and_size_skips_hidden_names(store, tdir):
    root = f"{tdir}/g"
    for rel, n in [("part-0", 3), ("sub/part-1", 5), ("_SUCCESS", 2),
                   (".part-0.crc", 4), ("_temporary/part-2", 7),
                   (".hidden/part-3", 11), ("sub/_c", 13)]:
        os.makedirs(os.path.dirname(f"{root}/{rel}"), exist_ok=True)
        with open(f"{root}/{rel}", "wb") as fh:
            fh.write(b"x" * n)
    assert store.data_bytes(root) == 8
    store.delete(f"{root}/part-0")
    assert not store.exists(f"{root}/part-0")
    assert store.data_bytes(root) == 5
    store.delete(root)
    assert not store.exists(root)
    store.delete(root)  # missing: a no-op


def test_file_uri_paths_get_the_posix_store(tdir):
    """A ``file:`` URI gets the POSIX store, which strips the scheme:
    the ANN generation meta under a ``file:`` index path round-trips
    through an atomic os.replace and leaves no Hadoop .crc sidecar."""
    import numpy as np

    from sif_spark.operators.similarity import (
        AnnGenMeta,
        load_ann_meta,
        save_ann_meta,
    )

    idx = f"file://{tdir}/idx"
    assert isinstance(store_for(idx), PosixExclLogStore)
    assert isinstance(store_for(f"file:{tdir}/idx"), PosixExclLogStore)
    meta = AnnGenMeta(3, np.eye(4, dtype=np.float32), None, 0.5)
    save_ann_meta(idx, meta)
    got = load_ann_meta(idx, 3)
    assert (got.gen, got.codebook, got.anchor) == (3, None, 0.5)
    np.testing.assert_array_equal(got.centroids, meta.centroids)
    assert os.listdir(f"{tdir}/idx/ann_meta") == ["gen-000003.npz"]
