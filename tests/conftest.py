"""Shared Spark session for the test suite (JVM startup is ~60s —
one session, session-scoped, like the reference's shared in-process
cluster in testing/test_runner.go)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sif_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # SPARK_GRAFT_MASTER lets the whole suite run under a distributed
    # master (e.g. local-cluster[2,8,4096]) — the CLUSTER.md validation
    import os

    s = get_session(
        "sif_spark_tests",
        master=os.environ.get("SPARK_GRAFT_MASTER", "local[8]"),
        shuffle_partitions=8,
    )
    yield s


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


def union_find_clusters(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side reference for connected components with keep-min
    roots — shared by the deterministic and property tests of
    near_dup_clusters (review r4: two copies had begun to drift)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.fixture()
def tdir(tmp_path) -> str:
    """An empty directory of this test's own under pytest's tmp_path, so
    two concurrent runs never share (or delete) each other's tables.
    Tests that need several dirs derive them from it (``f"{tdir}-ck"``
    stays inside tmp_path)."""
    d = tmp_path / "t"
    d.mkdir()
    return str(d)
