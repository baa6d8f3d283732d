"""LogStore commit protocol (sif_spark/logstore.py, VERDICT r10 #1):
the put-if-absent primitive under deterministic adversarial races.

The core claim: SifTable is exactly as safe as its LogStore's
put_if_absent. We prove both directions —

- a NAIVE object-store 'rename' (exists-check + copy-write, the
  non-atomic shape S3-class stores give you) lets two racing writers
  BOTH think they committed the same version: last-writer-wins, one
  writer's manifest silently vanishes;
- the same deterministic race through PosixExclLogStore (link(2)
  conditional put — the local reference of the conditional-PUT shape
  real object stores offer) yields exactly one winner, and full
  multi-writer table stress stays serializable with a contiguous
  version chain.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from sif_spark.logstore import (
    ConditionalPutLogStore,
    LogStore,
    PosixExclLogStore,
)
from sif_spark.table import ConcurrentCommitError, SifTable


class NonAtomicRenameStore(PosixExclLogStore):
    """The ADVERSARIAL shim: 'rename' as object stores actually do it
    — a check-then-act exists test followed by a plain write. The
    barrier pins both racers inside the window deterministically (no
    sleeps, no flakes)."""

    def __init__(self, barrier: threading.Barrier):
        self.barrier = barrier

    def put_if_absent(self, path: str, content: str) -> bool:
        if os.path.exists(path):  # the check …
            return False
        try:
            self.barrier.wait(timeout=10)  # both racers pass the check
        except threading.BrokenBarrierError:
            pass
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:  # … then the act
            fh.write(content)
        return True  # lies: the second writer overwrote the first


def test_nonatomic_rename_double_commits_the_same_version(tdir):
    """Demonstrate the hazard the interface exists to close: both
    racers 'win' version 1 through the naive store and one manifest is
    silently replaced."""
    barrier = threading.Barrier(2)
    store = NonAtomicRenameStore(barrier)
    path = f"{tdir}/_manifests/v0000000001.json"
    wins: list[tuple[str, bool]] = []

    def racer(tag: str):
        wins.append((tag, store.put_if_absent(path, json.dumps({"w": tag}))))

    ts = [threading.Thread(target=racer, args=(t,)) for t in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(w for _t, w in wins) == [True, True], (
        "the naive store must exhibit the double-commit for this test "
        "to mean anything"
    )
    survivor = json.load(open(path))["w"]
    lost = {"a", "b"} - {survivor}
    assert len(lost) == 1  # one writer's commit is GONE — corruption


def test_posix_excl_store_one_winner_under_the_same_race(tdir):
    """The identical deterministic race through link(2) conditional
    put: exactly one True, the loser sees False, the winner's bytes
    survive intact."""

    class RacingExclStore(PosixExclLogStore):
        def __init__(self, barrier):
            self.barrier = barrier

        def put_if_absent(self, path, content):
            try:
                self.barrier.wait(timeout=10)  # maximal contention
            except threading.BrokenBarrierError:
                pass
            return super().put_if_absent(path, content)

    barrier = threading.Barrier(2)
    store = RacingExclStore(barrier)
    path = f"{tdir}/_manifests/v0000000001.json"
    wins: list[tuple[str, bool]] = []

    def racer(tag: str):
        wins.append((tag, store.put_if_absent(path, json.dumps({"w": tag}))))

    ts = [threading.Thread(target=racer, args=(t,)) for t in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(w for _t, w in wins) == [False, True]
    winner = [t for t, w in wins if w][0]
    assert json.load(open(path))["w"] == winner
    # no tmp litter
    assert not [n for n in os.listdir(f"{tdir}/_manifests") if n.startswith(".tmp")]


def test_table_lifecycle_on_posix_excl_store(spark, tdir):
    """Full SifTable lifecycle with the conditional-put store: create,
    append, upsert, time travel, compact, vacuum — content identical
    to the default-store semantics (the table logic never branches on
    the store)."""
    store = PosixExclLogStore()
    tp = f"{tdir}/t"

    def df(lo, hi, val):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.lit(val).alias("v")
        )

    t = SifTable.create(spark, tp, df(0, 10, "a"), key_col="k", log_store=store)
    t.append(df(10, 15, "b"))
    t.upsert(df(3, 6, "u"))
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(got) == 15 and got[3] == "u" and got[0] == "a" and got[12] == "b"
    assert t.read(version=1).count() == 10  # time travel intact
    t.compact()
    assert {r["k"]: r["v"] for r in t.read().collect()} == got
    doomed = t.vacuum(retain_last=1)
    assert doomed and t._versions() == [4]
    assert {r["k"]: r["v"] for r in t.read().collect()} == got
    # a second handle without the store still READS (manifests are
    # plain files) but must be constructed with the right store to
    # write against object-store-only deployments — here local, so
    # both work; assert version continuity through a mixed writer
    t2 = SifTable(spark, tp)  # default Hadoop store on the same local FS
    t2.append(df(100, 102, "c"))
    assert SifTable(spark, tp, log_store=store).read().count() == 17


@pytest.mark.cluster
def test_concurrent_multi_writer_stress_on_excl_store(spark, tdir):
    """The r10 concurrent-appends stress, re-run through the
    conditional-put store: every append lands exactly once, the
    version chain is contiguous, parent links intact."""
    store = PosixExclLogStore()
    tp = f"{tdir}/stress"
    t = SifTable.create(
        spark,
        tp,
        spark.range(0, 1).select(F.col("id").alias("k"), F.lit("w0").alias("v")),
        key_col="k",
        log_store=store,
    )
    errs: list[Exception] = []

    def writer(tag: str, base: int):
        try:
            h = SifTable(spark, tp, log_store=PosixExclLogStore())
            for i in range(4):
                h.append(
                    spark.range(base + i * 10, base + i * 10 + 3).select(
                        F.col("id").alias("k"), F.lit(f"{tag}{i}").alias("v")
                    ),
                    retries=20,
                )
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    threads = [
        threading.Thread(target=writer, args=("a", 1000)),
        threading.Thread(target=writer, args=("b", 2000)),
        threading.Thread(target=writer, args=("c", 3000)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    versions = t._versions()
    assert versions == list(range(1, 14))  # 1 create + 12 appends, no gaps
    for v in versions[1:]:
        assert t._load(v)["parent"] == v - 1
    assert t.read().count() == 1 + 12 * 3
    vals = [r["v"] for r in t.read().collect()]
    assert len(vals) == len(set(vals)) or sorted(vals)  # every batch once
    from collections import Counter

    c = Counter(vals)
    assert all(n == 3 for tag, n in c.items() if tag != "w0"), c


def test_conditional_put_adapter_uses_supplied_primitive(tdir):
    """ConditionalPutLogStore delegates publish to the store's own
    primitive (here: a recording wrapper over O_EXCL link)."""
    calls = []
    inner = PosixExclLogStore()

    def put(path, content):
        calls.append(path)
        return inner.put_if_absent(path, content)

    store = ConditionalPutLogStore(put)
    p = f"{tdir}/_manifests/v0000000001.json"
    assert store.put_if_absent(p, "{}") is True
    assert store.put_if_absent(p, "{}") is False
    assert calls == [p, p]
    assert isinstance(store, LogStore)


def test_concurrent_commit_error_surfaces_through_table(spark, tdir):
    """A put_if_absent that always loses surfaces as
    ConcurrentCommitError after retries — no silent success."""

    class AlwaysLoses(PosixExclLogStore):
        def put_if_absent(self, path, content):
            return False

    tp = f"{tdir}/lose"
    df = spark.range(0, 3).select(F.col("id").alias("k"), F.lit("a").alias("v"))
    with pytest.raises(ConcurrentCommitError):
        SifTable.create(spark, tp, df, key_col="k", log_store=AlwaysLoses())
