"""Seeded input generators for the two workloads, with the planted
ground truth each output check needs.

Every generator takes a ``seed`` and an output directory, writes its
inputs as parquet files there (pyarrow, fixed writer settings, so one
seed gives byte-identical files), and returns a plan object holding the
file paths plus the expected results. Nothing here imports Spark: the
program under test only ever sees the parquet files.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- corpus_clean sizes -------------------------------------------------------
CORPUS_BASE_DOCS = 1200      # distinct clean documents before planting
CORPUS_EXACT_CLUSTERS = 100  # bases that get 1-3 exact copies
CORPUS_NEAR_CLUSTERS = 100   # bases that get 1-3 near copies
CORPUS_LOWQ_DOCS = 125       # digit/symbol documents (quality ~0.3)
CORPUS_UND_DOCS = 125        # clean text with no language marker words
CORPUS_WORDS = (60, 100)     # words per clean document
CORPUS_FILES = 8
NEAR_DUP_THRESHOLD = 0.3     # planted pairs score >= 0.6, others ~0
QUALITY_MIN = 0.5            # clean docs score >= 0.8, low-quality <= 0.33
MIX_WEIGHTS = {"web": 5, "books": 3, "code": 2}
MIX_RESOLUTION = 10_000

# -- ann_ingest sizes ---------------------------------------------------------
ANN_DIM = 32
ANN_CLUSTERS = 16
ANN_DAY1 = 3000
ANN_APPEND = 600
ANN_REEMBED = 300
ANN_WRITES = ("append", "upsert")
ANN_QUERY_BATCHES = 2
ANN_QUERIES_PER_BATCH = 16
ANN_K = 10
ANN_N_CELLS = 16
ANN_N_PROBE = 4
ANN_QID_BASE = 1_000_000_000

_EN_MARKERS = ("the", "and", "of", "to", "a")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", use_dictionary=False)
    return path


def hash60_bucket(doc_id: int, resolution: int = MIX_RESOLUTION) -> int:
    """The mixture's keep bucket: first 15 hex digits of md5(str(id))."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % resolution


def mix_rates(totals: dict[str, int], weights: dict[str, int], resolution: int) -> dict[str, int]:
    """Integer per-stratum acceptance rates for a token-budget mixture
    whose budget is the largest that no stratum has to oversample: the
    mixture stage's rule, recomputed here so the check does not trust
    the code it checks."""
    w_sum = sum(weights.values())
    present = {g: w for g, w in weights.items() if w > 0 and totals.get(g, 0) > 0}
    budget = min(totals[g] * w_sum // w for g, w in present.items())
    return {
        g: min(resolution, budget * w * resolution // (w_sum * totals[g]))
        for g, w in present.items()
    }


# ---------------------------------------------------------------------------
# corpus_clean
# ---------------------------------------------------------------------------


@dataclass
class CorpusPlan:
    path: str
    survivors: set[int]                  # doc ids after the whole pipeline
    per_source: dict[str, tuple[int, int]]  # source -> (docs, tokens) of survivors
    vowels: int                          # sum over survivors of [aeiou] counts
    live_bytes: int                      # Arrow bytes of the surviving rows


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        ln = int(rng.integers(4, 10))
        words.add("".join(rng.choice(_LETTERS, ln)))
    return sorted(words)


def _clean_words(rng, vocab, markers: bool) -> list[str]:
    n = int(rng.integers(*CORPUS_WORDS))
    words = [vocab[i] for i in rng.integers(0, len(vocab), n)]
    if markers:
        for pos in rng.choice(n, size=max(3, n // 10), replace=False):
            words[pos] = _EN_MARKERS[int(rng.integers(0, len(_EN_MARKERS)))]
    return words


def _respace(rng, words: list[str]) -> str:
    """Same normalized text, different bytes: random case and whitespace."""
    out = []
    for w in words:
        out.append(w.upper() if rng.random() < 0.2 else w)
        out.append(("  ", "\n", " \t ")[int(rng.integers(0, 3))] if rng.random() < 0.2 else " ")
    return "".join(out).strip()


def corpus_clean_inputs(seed: int, out_dir: str) -> CorpusPlan:
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng, 6000)
    sources = sorted(MIX_WEIGHTS)
    docs: list[tuple[str, str]] = []  # (text, source)
    # cluster -> member indices; a cluster's survivor is its min doc id
    clusters: list[list[int]] = []
    for b in range(CORPUS_BASE_DOCS):
        words = _clean_words(rng, vocab, markers=True)
        src = sources[int(rng.integers(0, len(sources)))]
        members = [len(docs)]
        docs.append((" ".join(words), src))
        if b < CORPUS_EXACT_CLUSTERS:
            for _ in range(int(rng.integers(1, 4))):
                members.append(len(docs))
                docs.append((_respace(rng, words), src))
        elif b < CORPUS_EXACT_CLUSTERS + CORPUS_NEAR_CLUSTERS:
            for _ in range(int(rng.integers(1, 4))):
                variant = list(words)
                for pos in rng.choice(len(words), size=2, replace=False):
                    variant[pos] = vocab[int(rng.integers(0, len(vocab)))] + "x"
                members.append(len(docs))
                docs.append((" ".join(variant), src))
        clusters.append(members)
    for _ in range(CORPUS_LOWQ_DOCS):
        n = int(rng.integers(20, 60))
        toks = ["".join(rng.choice(list("0123456789%#$"), int(rng.integers(2, 7)))) for _ in range(n)]
        docs.append((" ".join(toks), sources[int(rng.integers(0, 3))]))
    for _ in range(CORPUS_UND_DOCS):
        docs.append((" ".join(_clean_words(rng, vocab, markers=False)),
                     sources[int(rng.integers(0, 3))]))
    ids = rng.permutation(len(docs)) + 1
    kept = set()
    for members in clusters:
        kept.add(min(int(ids[i]) for i in members))
    totals = {s: 0 for s in sources}
    for i, (text, src) in enumerate(docs):
        if int(ids[i]) in kept:
            totals[src] += len(text.split())
    rates = mix_rates(totals, MIX_WEIGHTS, MIX_RESOLUTION)
    survivors: set[int] = set()
    per_source = {s: (0, 0) for s in sources}
    vowels = 0
    for i, (text, src) in enumerate(docs):
        did = int(ids[i])
        if did in kept and hash60_bucket(did) < rates.get(src, 0):
            survivors.add(did)
            d, t = per_source[src]
            per_source[src] = (d + 1, t + len(text.split()))
            vowels += sum(text.count(c) for c in "aeiou")
    order = np.argsort(ids)
    table = pa.table({
        "doc_id": pa.array(ids[order].astype(np.int64)),
        "text": pa.array([docs[i][0] for i in order]),
        "source": pa.array([docs[i][1] for i in order]),
    })
    path = os.path.join(out_dir, "corpus")
    step = -(-table.num_rows // CORPUS_FILES)
    for f in range(CORPUS_FILES):
        _write(table.slice(f * step, step), os.path.join(path, f"part-{f}.parquet"))
    live = table.filter(pa.array(np.isin(table["doc_id"].to_numpy(), sorted(survivors))))
    return CorpusPlan(path, survivors, per_source, vowels, live.nbytes)


# ---------------------------------------------------------------------------
# ann_ingest
# ---------------------------------------------------------------------------


@dataclass
class AnnPlan:
    day1: str
    writes: list[tuple[str, str]]        # (append|upsert, parquet path)
    query_batches: list[str]
    final_ids: np.ndarray                # corpus ids after every write
    final_vecs: np.ndarray               # their vectors (row-aligned)
    queries: np.ndarray                  # all query vectors, in qid order


def vec_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.astype(np.float32).reshape(-1))
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(ids.astype(np.int64)), "embedding": emb})


def ann_ingest_inputs(seed: int, out_dir: str) -> AnnPlan:
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(size=(ANN_CLUSTERS, ANN_DIM))

    def sample(n: int) -> np.ndarray:
        c = centers[rng.integers(0, ANN_CLUSTERS, n)]
        return (c + 0.35 * rng.normal(size=c.shape)).astype(np.float32)

    d = os.path.join(out_dir, "ann")
    day1_vecs = sample(ANN_DAY1)
    vecs = dict(enumerate(day1_vecs))
    t = vec_table(np.arange(ANN_DAY1), day1_vecs)
    day1 = _write(t, os.path.join(d, "day1.parquet"))
    writes = []
    next_id = ANN_DAY1
    for j, kind in enumerate(ANN_WRITES):
        if kind == "append":
            ids = np.arange(next_id, next_id + ANN_APPEND)
            next_id += ANN_APPEND
        else:
            ids = np.sort(rng.choice(np.array(sorted(vecs)), ANN_REEMBED, replace=False))
        new = sample(len(ids))
        vecs.update(zip((int(i) for i in ids), new))
        writes.append((kind, _write(vec_table(ids, new), os.path.join(d, f"write{j}.parquet"))))
    queries = sample(ANN_QUERY_BATCHES * ANN_QUERIES_PER_BATCH)
    batches = []
    for b in range(ANN_QUERY_BATCHES):
        sl = slice(b * ANN_QUERIES_PER_BATCH, (b + 1) * ANN_QUERIES_PER_BATCH)
        qids = ANN_QID_BASE + np.arange(sl.start, sl.stop)
        batches.append(_write(vec_table(qids, queries[sl]), os.path.join(d, f"queries{b}.parquet")))
    ids = np.array(sorted(vecs))
    return AnnPlan(day1, writes, batches, ids, np.stack([vecs[int(i)] for i in ids]),
                   queries)


def exact_top_k(plan: AnnPlan, k: int = ANN_K) -> np.ndarray:
    """Exact cosine top-k corpus ids per query (ties by lower id)."""
    c = plan.final_vecs.astype(np.float64)
    q = plan.queries.astype(np.float64)
    sims = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ (
        c / np.linalg.norm(c, axis=1, keepdims=True)).T
    order = np.lexsort((np.broadcast_to(plan.final_ids, sims.shape), -sims), axis=1)
    return plan.final_ids[order[:, :k]]
