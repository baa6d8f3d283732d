"""Build the sf1 decade-step dataset (10× sf0.1) for the full-catalog
scaling sweep (VERDICT r9 "Next round" #1).

Replication with ENTITY-COUNT scaling, not duplicate-multiplicity
scaling: a naive 10× copy makes 90% of the corpus near-duplicates, so
every near-dup operator's cost explodes in OUTPUT size (candidate
pairs ~100×) and the sweep measures the data artifact, not the plan.
Each replica r therefore gets:

- all entity keys shifted by r·10M (orderkey/custkey/partkey/suppkey/
  event_id/user_id/doc_id/vec_id), and — unlike the 10× probe
  (SCALE.md "10× probe"; `git show fea8842:tools/scale_probe.py`) —
  lineitem's l_partkey/l_suppkey shift WITH their dimensions, so each
  replica is a self-contained star and join selectivities are
  preserved at 10×;
- document text re-suffixed on every 3rd word ("w_r"): shingles are
  word k-grams (operators/text.py:shingles, k∈{3,4}), so every k-gram
  window contains ≥1 modified word → replicas share ZERO shingles and
  near-dup pair counts scale with entity count (the intra-replica
  near-dups the generator planted are preserved 10×); n_chars is
  recomputed so the table stays self-consistent;
- embeddings permuted by a per-replica deterministic permutation of
  the 64 dims (norms and coordinate distributions preserved, cosine
  to the original ≈ 0) so ANN/near-dup entries scale in entity count.

Replica 0 is byte-identical to sf0.1. nation/region are dimension
constants and are copied once. Timestamps are NOT shifted: 10× events
in the same wall-clock range is what 10× traffic looks like — windowed
aggregations grow rows-per-window, sessionization grows key count.

Usage: python tools/build_sf1.py [reps] [out_dir]
Defaults: 10 replicas → /tmp/sif_sf1. Deterministic output.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sif_spark.session import get_session
from sif_spark.sources.parquet import read_table

BASE = "/root/testdata/sf0.1"
SHIFT = 10_000_000

SHIFT_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

EMB_DIM = 64


def _perturb_text(df, r: int):
    """Suffix every 3rd whitespace token with _r<replica>: every word
    3/4-gram contains ≥1 modified token, so replica↔original shingle
    sets are disjoint while 2/3 of tokens (stopwords, lengths,
    punctuation shape) stay intact for the quality/langid batteries."""
    if r == 0:
        return df
    toks = F.split(F.col("text"), " ")
    marked = F.array_join(
        F.zip_with(
            toks,
            F.sequence(F.lit(0), F.size(toks) - 1),
            lambda t, i: F.when(i % 3 == 2, F.concat(t, F.lit(f"_r{r}"))).otherwise(t),
        ),
        " ",
    )
    return df.withColumn("text", marked).withColumn(
        "n_chars", F.length("text").cast("long")
    )


def _perturb_embedding(df, r: int):
    """Per-replica deterministic permutation PLUS coordinate sign
    flips of the vector dims — same norms, same coordinate magnitude
    distribution, but E[cos(x, s⊙Px)] = 0 even for cluster-structured
    data (a bare permutation preserves cluster-mean geometry enough
    that cross-replica cosines stayed correlated — measured 117×
    pair growth instead of 10× in the first sweep), so near-dup/ANN
    entries scale in entity count."""
    if r == 0:
        return df
    rng = np.random.RandomState(r)
    perm = rng.permutation(EMB_DIM)
    signs = rng.choice([-1.0, 1.0], EMB_DIM)
    e = F.col("embedding")
    return df.withColumn(
        "embedding",
        F.array(*[(e[int(i)] * float(s)).cast("float")
                  for i, s in zip(perm, signs)]),
    )


def _write_single_file(df, out_dir: str, table: str) -> None:
    """Match the testdata layout exactly — ONE parquet FILE per table
    (`<dir>/<table>.parquet`), so every tool (check_oracle's DuckDB
    views, read_table) runs verbatim against the sweep dir. Single-file
    at this size (≤ ~150 MB) is a layout convenience for the oracle,
    not the scan plan — Spark still splits it into row-group tasks."""
    import glob
    import shutil

    tmp = os.path.join(out_dir, f"__tmp_{table}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(out_dir, f"{table}.parquet"))
    shutil.rmtree(tmp)


def build(out_dir: str, reps: int) -> None:
    spark = get_session("build_sf1")
    os.makedirs(out_dir, exist_ok=True)
    for table in ("nation", "region"):
        _write_single_file(read_table(spark, BASE, table), out_dir, table)
    for table, cols in SHIFT_COLS.items():
        base = read_table(spark, BASE, table)
        parts = []
        for r in range(reps):
            df = base
            for c in cols:
                df = df.withColumn(c, F.col(c) + F.lit(r * SHIFT))
            if table == "documents":
                df = _perturb_text(df, r)
            elif table == "embeddings":
                df = _perturb_embedding(df, r)
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        _write_single_file(out, out_dir, table)
        print(f"  built {table}", file=sys.stderr)


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sif_sf1"
    t0 = time.time()
    build(out_dir, reps)
    print(f"built {out_dir} (x{reps}) in {time.time() - t0:.0f}s")


if __name__ == "__main__":
    main()
