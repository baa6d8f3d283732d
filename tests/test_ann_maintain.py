"""Incremental IVF index maintenance over the SifTable change feed
(operators/similarity.maintain_ivf_index_table): exactly-once folds,
keyed replacement on re-embedding upserts, and checkpoint resume —
the index table must always equal a from-scratch assignment of the
current corpus against the fixed centroids."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from sif_spark.operators import similarity as sgsim
from sif_spark.table import SifTable


@pytest.fixture()
def dirs(tdir):
    return (f"{tdir}-src", f"{tdir}-idx", f"{tdir}-ck")


def _vecs(spark, lo, hi, dim=8, flip=False, scale=1.0):
    sign = (-1.0 if flip else 1.0) * scale
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.lit(sign) * F.cos(F.col("id") * (i + 1))).cast("float")
                for i in range(dim)
            ]
        ).alias("embedding"),
    )


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()


def _assert_index_exact(spark, idx_path, corpus, centroids):
    incr = SifTable(spark, idx_path).read().select("nid", "cell")
    fresh = sgsim.assign_cells(corpus, centroids)
    assert incr.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(incr).count() == 0


def test_maintain_resumes_and_folds_reembedding(spark, dirs):
    src_path, idx_path, ck = dirs
    src = SifTable.create(
        spark, src_path, _vecs(spark, 0, 60), key_col="vec_id"
    )
    centroids = sgsim.build_ivf_index(
        _vecs(spark, 0, 60), n_cells=4, max_iter=2
    ).centroids
    src.append(_vecs(spark, 60, 120))
    q = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="m",
        max_versions_per_trigger=1,
    )
    _drain(q)
    _assert_index_exact(spark, idx_path, src.read(), centroids)
    # new corpus versions AFTER the stream stopped: an append and a
    # re-embedding upsert (negated vectors -> different cells)
    src.append(_vecs(spark, 120, 150))
    src.upsert(_vecs(spark, 10, 30, flip=True))
    # restart with the SAME checkpoint: resumes exactly where it left
    q2 = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="m",
        max_versions_per_trigger=1,
    )
    _drain(q2)
    _assert_index_exact(spark, idx_path, src.read(), centroids)
    # keyed fold: index holds each nid exactly once despite the upsert
    idx = SifTable(spark, idx_path).read()
    assert idx.count() == 150
    assert idx.select("nid").distinct().count() == 150


def test_maintain_skips_null_embeddings_without_codebook(spark, dirs):
    """A corpus row with a NULL embedding gets no index row, with or
    without cdf: the maintainer without ``pq_codebook`` folds past it
    instead of failing its assignment task, and a later upsert that
    sets an indexed row's embedding to NULL retires its index row."""
    src_path, idx_path, ck = dirs
    for cdf in (False, True):
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
        src = SifTable.create(
            spark, src_path, _vecs(spark, 0, 60), key_col="vec_id", cdf=cdf
        )
        centroids = sgsim.build_ivf_index(
            _vecs(spark, 0, 60), n_cells=4, max_iter=2
        ).centroids
        src.append(_vecs(spark, 60, 90).withColumn(
            "embedding",
            F.when(F.col("vec_id") % 5 != 0, F.col("embedding")),
        ))

        def drain():
            q = sgsim.maintain_ivf_index_table(
                spark, src_path, idx_path, centroids, ck, app_id="m",
                cdf=cdf,
            )
            _drain(q)
            assert q.exception() is None
            return {
                r["nid"] for r in SifTable(spark, idx_path).read().collect()
            }

        assert drain() == set(range(60)) | {
            i for i in range(60, 90) if i % 5
        }
        # 5, 10 and 66 lose their embedding; 70 gains one
        src.upsert(_vecs(spark, 0, 90).filter(
            F.col("vec_id").isin(5, 10, 66, 70)
        ).withColumn(
            "embedding",
            F.when(F.col("vec_id") == 70, F.col("embedding")),
        ))
        assert drain() == (
            set(range(60)) | {i for i in range(60, 90) if i % 5} | {70}
        ) - {5, 10, 66}
        _assert_index_exact(spark, idx_path, src.read(), centroids)


def test_cdf_maintain_retires_deleted_vectors(spark, dirs):
    """cdf=True maintenance: corpus deletes retire their index rows
    (delete_keys under the batch's second sub-epoch), re-embeddings
    replace, and a key replaced then deleted inside one window folds
    to its FINAL image — the index always equals a fresh assignment
    of the current corpus, including after restart."""
    src_path, idx_path, ck = dirs
    src = SifTable.create(
        spark, src_path, _vecs(spark, 0, 80), key_col="vec_id", cdf=True
    )
    centroids = sgsim.build_ivf_index(
        _vecs(spark, 0, 80), n_cells=4, max_iter=2
    ).centroids
    src.append(_vecs(spark, 80, 140))
    src.upsert(_vecs(spark, 20, 40, flip=True))  # re-embed
    src.delete("vec_id % 6 = 1")                 # tombstones
    q = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="c",
        cdf=True,
    )
    _drain(q)
    _assert_index_exact(spark, idx_path, src.read(), centroids)
    idx = SifTable(spark, idx_path).read()
    assert idx.count() == src.read().count()
    # stopped stream; more churn including replace-then-delete of the
    # same keys across versions, then resume from the same checkpoint
    src.upsert(_vecs(spark, 50, 60, flip=True))
    src.delete("vec_id >= 50 AND vec_id < 55")
    src.append(_vecs(spark, 140, 160))
    q2 = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="c",
        cdf=True,
    )
    _drain(q2)
    _assert_index_exact(spark, idx_path, src.read(), centroids)
    # rows deleted at v4 stay retired — except keys the LATER upsert
    # legitimately re-inserted (50..59 includes 55, 55 % 6 == 1)
    assert (
        SifTable(spark, idx_path)
        .read()
        .filter("nid % 6 = 1 AND nid < 140 AND NOT (nid >= 50 AND nid < 60)")
        .count()
        == 0
    )


def test_non_cdf_maintain_fails_loudly_on_corpus_delete(spark, dirs):
    """ADVICE r11 high: a NON-cdf maintainer must FAIL when the corpus
    commits a delete — the delete version adds no groups, so without
    the plan-time keyed-feed guard it planned zero partitions
    and was silently skipped, leaving stale index rows forever. The
    docstring's 'a delete version fails the stream loudly' is now
    enforced. Upserts, by contrast, keep folding fine (keyed
    replacement)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src_path, idx_path, ck = dirs
    src = SifTable.create(
        spark, src_path, _vecs(spark, 0, 60), key_col="vec_id"
    )
    centroids = sgsim.build_ivf_index(
        _vecs(spark, 0, 60), n_cells=4, max_iter=2
    ).centroids
    src.upsert(_vecs(spark, 10, 20, flip=True))  # upserts still pass
    q = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="g",
    )
    _drain(q)
    _assert_index_exact(spark, idx_path, src.read(), centroids)
    src.delete("vec_id % 5 = 0")
    q2 = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="g",
    )
    with pytest.raises(StreamingQueryException, match="delete|removed"):
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
    # the index was NOT silently drifted past the delete: the deleted
    # keys' rows are still present (stale) and the stream refused to
    # advance — the operator told the truth instead of skipping
    stale = SifTable(spark, idx_path).read().filter("nid % 5 = 0").count()
    assert stale > 0


def test_refresh_trips_on_drift_and_swaps_atomically(spark, dirs):
    """VERDICT r11 'Next round' #1: the maintainer tracks staleness
    per fold (batch mean assignment distance vs the generation's
    anchor) and, when tripped, re-trains on the CURRENT corpus and
    publishes rows+meta in ONE atomic overwrite — gen advances,
    same-distribution appends never trip it, a pre-swap snapshot
    stays coherent (old gen meta + old rows), and a crash-replay of
    the refresh epoch is a committed no-op."""
    from sif_spark.table import SifTable

    src_path, idx_path, ck = dirs
    src = SifTable.create(
        spark, src_path, _vecs(spark, 0, 80), key_col="vec_id"
    )
    centroids = sgsim.build_ivf_index(
        _vecs(spark, 0, 80), n_cells=4, max_iter=2
    ).centroids
    src.append(_vecs(spark, 80, 140))  # same distribution: no trip
    q = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="r",
        max_versions_per_trigger=1, refresh_staleness_ratio=1.2,
    )
    _drain(q)
    assert sgsim._committed_gen(spark, idx_path) == 0  # no spurious trip
    idx = SifTable(spark, idx_path)
    v_pre_swap = idx._load()["version"]
    # drift event: every vector re-embedded, negated AND x4 magnitude
    # (mean squared distance to the old centroids grows quadratically
    # — the ratio clears the threshold on ANY centroid draw; MLlib's
    # random-init centers vary with the master's partitioning, which
    # made a negate-only drift borderline under local-cluster)
    src.upsert(_vecs(spark, 0, 140, flip=True, scale=4.0))
    q2 = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="r",
        max_versions_per_trigger=1, refresh_staleness_ratio=1.2,
    )
    _drain(q2)
    meta, rows = sgsim.load_maintained_index(spark, idx_path)
    assert meta.gen == 1
    assert rows.filter("gen != 1").count() == 0  # never a mixed gen
    # the swapped index equals a fresh assignment with the NEW meta
    fresh = sgsim.assign_cells(src.read(), meta.centroids)
    got = rows.select("nid", "cell")
    assert got.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(got).count() == 0
    # snapshot isolation: the pre-swap version still reads as gen 0
    # and its meta file is intact (coherent old pair)
    old_rows = idx.read(version=v_pre_swap)
    assert old_rows.filter("gen != 0").count() == 0
    assert sgsim.load_ann_meta(idx_path, 0).gen == 0
    # crash-replay: the refresh epoch's overwrite is txn-guarded
    last = idx.last_txn_epoch("r-refresh")
    assert last >= 0
    v_now = idx._load()["version"]
    idx.overwrite(rows.limit(3), txn=("r-refresh", last))
    assert idx._load()["version"] == v_now  # replayed: no commit
    # and folds AFTER the swap keep maintaining against the new gen
    # (same post-drift distribution: no second trip)
    src.append(_vecs(spark, 140, 160, flip=True, scale=4.0))
    q3 = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="r",
        max_versions_per_trigger=1, refresh_staleness_ratio=1.2,
    )
    _drain(q3)
    meta2, rows2 = sgsim.load_maintained_index(spark, idx_path)
    assert rows2.count() == 160
    fresh2 = sgsim.assign_cells(src.read(), meta2.centroids)
    assert rows2.select("nid", "cell").exceptAll(fresh2).count() == 0


def test_maintainer_handles_corpus_merge(spark, dirs):
    """A corpus MERGE (round 12) through both maintainer modes: the
    non-cdf keyed fold must FAIL loudly (a merge's updated rows live
    in the rewritten group — the append feed never emits them, unlike
    an upsert's post-image group), and the cdf fold must consume the
    merge's change file exactly (update postimages re-assign, deletes
    retire, inserts add)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from sif_spark.table import SifTable

    src_path, idx_path, ck = dirs
    # non-cdf: update-only merge poisons the keyed fold
    src = SifTable.create(
        spark, src_path, _vecs(spark, 0, 60), key_col="vec_id"
    )
    centroids = sgsim.build_ivf_index(
        _vecs(spark, 0, 60), n_cells=4, max_iter=2
    ).centroids
    q = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="mg",
    )
    _drain(q)
    src.merge(
        _vecs(spark, 10, 20, flip=True),
        when_matched_update={"embedding": "s.embedding"},
    )
    q2 = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="mg",
    )
    with pytest.raises(StreamingQueryException, match="merge"):
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
    # cdf: the merge's change file folds exactly
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    src = SifTable.create(
        spark, src_path, _vecs(spark, 0, 60), key_col="vec_id", cdf=True
    )
    q3 = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="mgc", cdf=True,
    )
    _drain(q3)
    src.merge(
        _vecs(spark, 40, 90, flip=True),
        when_matched_update={"embedding": "s.embedding"},  # 40..59 flip
        when_matched_delete="t.vec_id % 7 = 0",            # matched %7
        when_not_matched_insert=True,                      # 60..89 add
    )
    q4 = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="mgc", cdf=True,
    )
    _drain(q4)
    _assert_index_exact(spark, idx_path, src.read(), centroids)
    idx = SifTable(spark, idx_path).read()
    assert idx.count() == src.read().count()
    # deleted keys retired: matched (40..59) where %7==0 -> 42,49,56
    assert idx.filter("nid IN (42, 49, 56)").count() == 0


def test_cdf_maintain_folds_dv_deletes(spark, dirs):
    """Round-13 interaction pin: a DELETION-VECTOR corpus (dv=True —
    deletes tombstone sidecars, zero group rewrites) still feeds the
    cdf maintainer exactly — dv deletes materialize the same cdc
    tombstone images, so the index retires them with no code change;
    a dv-table delete-only MERGE folds the same way."""
    src_path, idx_path, ck = dirs
    src = SifTable.create(
        spark, src_path, _vecs(spark, 0, 80), key_col="vec_id",
        cdf=True, dv=True,
    )
    centroids = sgsim.build_ivf_index(
        _vecs(spark, 0, 80), n_cells=4, max_iter=2
    ).centroids
    src.append(_vecs(spark, 80, 140))
    paths_before = [g["path"] for g in src._load()["groups"]]
    # dv delete: scattered keys, zero rewrites
    src.delete_keys(
        spark.range(0, 140).filter("id % 6 = 1").select(
            F.col("id").alias("vec_id")
        )
    )
    # dv delete-only merge (erasure batch)
    src.merge(
        spark.range(0, 140).filter("id % 35 = 0").select(
            F.col("id").alias("vec_id")
        ),
        when_matched_delete=True,
    )
    assert [g["path"] for g in src._load()["groups"]] == paths_before
    q = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="dv",
        cdf=True,
    )
    _drain(q)
    _assert_index_exact(spark, idx_path, src.read(), centroids)
    idx = SifTable(spark, idx_path).read()
    assert idx.count() == src.read().count()
    assert idx.filter("nid % 6 = 1").count() == 0
    assert idx.filter("nid % 35 = 0").count() == 0


def test_append_window_folds_without_rewriting_index_groups(spark, dirs):
    """r14 append-dispatch pin: when every corpus version in a
    micro-batch window is a create/append, the fold lands the batch as
    a keyed APPEND — existing index groups' paths survive untouched
    (the old upsert fold rewrote every range-overlapping group), and
    the maintained index still equals the from-scratch assignment. An
    UPSERT version must still take the rewrite path (its keys exist)."""
    src_path, idx_path, ck = dirs
    src = SifTable.create(
        spark, src_path, _vecs(spark, 0, 60), key_col="vec_id"
    )
    centroids = sgsim.build_ivf_index(
        _vecs(spark, 0, 60), n_cells=4, max_iter=2
    ).centroids
    q = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="ap",
        max_versions_per_trigger=1,
    )
    _drain(q)
    idx = SifTable(spark, idx_path)
    paths_v1 = [g["path"] for g in idx._load()["groups"]]
    # an append version folds as an index APPEND: old groups keep
    # their exact paths, one new group appears
    src.append(_vecs(spark, 60, 120))
    q = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="ap",
        max_versions_per_trigger=1,
    )
    _drain(q)
    paths_v2 = [g["path"] for g in idx._load()["groups"]]
    assert paths_v2[: len(paths_v1)] == paths_v1
    assert len(paths_v2) == len(paths_v1) + 1
    _assert_index_exact(spark, idx_path, src.read(), centroids)
    # a re-embedding upsert version must NOT take the append path:
    # its keys exist, so the fold rewrites (keyed replacement) and the
    # index holds each nid exactly once
    src.upsert(_vecs(spark, 10, 30, flip=True))
    q = sgsim.maintain_ivf_index_table(
        spark, src_path, idx_path, centroids, ck, app_id="ap",
        max_versions_per_trigger=1,
    )
    _drain(q)
    idx_rows = idx.read()
    assert idx_rows.count() == 120
    assert idx_rows.select("nid").distinct().count() == 120
    _assert_index_exact(spark, idx_path, src.read(), centroids)


def test_probe_state_tolerates_only_missing_or_garbled_file(spark, tmp_path):
    """The maintainer's probe-state hint degrades to 0 (one extra recall
    probe) when the file is missing or unparsable; any other failure of
    the store's read or write propagates instead of being swallowed.
    The checksum case runs on the Hadoop store, the only one that
    writes a .crc sidecar."""
    from py4j.protocol import Py4JJavaError

    from sif_spark.logstore import HadoopRenameLogStore, PosixExclLogStore

    idx = str(tmp_path / "idx")
    hadoop = HadoopRenameLogStore(spark)
    assert sgsim._read_probe_state(hadoop, idx) == 0  # never written
    sgsim._write_probe_state(hadoop, idx, 1234)
    assert sgsim._read_probe_state(hadoop, idx) == 1234
    state = tmp_path / "idx" / "ann_meta" / "probe_state.json"
    state.write_bytes(b"{\"rows_at")  # no longer matches its checksum
    assert sgsim._read_probe_state(hadoop, idx) == 0
    (tmp_path / "idx" / "ann_meta" / ".probe_state.json.crc").unlink()
    for log in (hadoop, PosixExclLogStore()):
        for garbled in (b"{\"rows_at", b"[1, 2]", b"{}", b"\xff\xfe"):
            state.write_bytes(garbled)
            assert sgsim._read_probe_state(log, idx) == 0, garbled
    sgsim._write_probe_state(PosixExclLogStore(), idx, 77)
    assert sgsim._read_probe_state(hadoop, idx) == 77

    jvm = spark.sparkContext._jvm
    io_error = Py4JJavaError("fs call", jvm.java.io.IOException("disk gone"))

    class FailingStore(PosixExclLogStore):
        def __init__(self, err):
            self.err = err

        def read_bytes(self, path):
            raise self.err

        def replace(self, path, data):
            raise self.err

    errors = (io_error, PermissionError("denied"), RuntimeError("gateway down"))
    for err in errors:
        with pytest.raises(type(err)):
            sgsim._read_probe_state(FailingStore(err), idx)
        with pytest.raises(type(err)):
            sgsim._write_probe_state(FailingStore(err), idx, 1)


def test_load_ivf_index_meta_errors_propagate(spark, tmp_path):
    """A missing meta/ (an index saved before provenance metadata) loads
    without validation metadata; an unreadable one is an error."""
    import shutil

    corpus = spark.createDataFrame(
        [(i, [float(np.cos(i * 0.7 + d)) for d in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf")
    sgsim.save_ivf_index(sgsim.build_ivf_index(corpus, n_cells=4, max_iter=2), path)
    assert sgsim.load_ivf_index(spark, path).corpus_rows == 40

    shutil.rmtree(tmp_path / "ivf" / "meta")
    legacy = sgsim.load_ivf_index(spark, path)
    assert legacy.vec_col is None and legacy.corpus_rows is None

    (tmp_path / "ivf" / "meta").mkdir()
    (tmp_path / "ivf" / "meta" / "part-00000.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception) as err:
        sgsim.load_ivf_index(spark, path)
    assert "PATH_NOT_FOUND" not in str(err.value)
