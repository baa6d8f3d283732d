"""Full-catalog decade-step scaling sweep (VERDICT r9 "Next round" #1):
time every catalog entry at sf0.1 AND at the 10× sf1 dataset
(tools/build_sf1.py → /tmp/sif_sf1) in one interleaved session, and
record the per-entry scaling ratio time(sf1)/time(sf0.1) plus its
decade exponent log10(ratio).

Reading the exponent: 1.0 = perfectly linear in input; < 1 = the entry
is dominated by fixed costs at sf0.1 (per-query planning, micro-batch
commits) so 10× data did NOT cost 10× time; > 1 = superlinear —
candidate-pair growth, shuffle spill, or a collect that stopped
fitting. The brief's "would it survive 100×" question is exactly
"which entries have exponent meaningfully above 1, and why".

Protocol per entry: run sf0.1 (this also warms codegen), run sf1 under
a watchdog, run sf0.1 again; t01 = min(first, second) — taking the min
AFTER the sf1 run makes the ratio conservative (biased up, never down)
against JIT warmup effects. Execution is forced through the noop sink
(full plan, no driver collect). A watchdog cancels any sf1 run past
--timeout (default 900 s) and records "timeout" — a named failure, not
a hang.

Usage: python tools/decade_sweep.py [--sf1 /tmp/sif_sf1] [--timeout 900]
       [--out /tmp/decade_sweep.json] [query ...]
Prints one JSON line; per-entry progress on stderr.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sif_spark.session import get_session

BASE = "/root/testdata/sf0.1"


def run_once(spark, fn, sf_dir: str, timeout: float | None = None):
    """One noop-sink execution → seconds, or ('timeout'|'error', msg)."""
    done = threading.Event()

    def cancel():
        if not done.wait(timeout):
            spark.sparkContext.cancelAllJobs()

    watchdog = None
    if timeout:
        watchdog = threading.Thread(target=cancel, daemon=True)
        watchdog.start()
    t0 = time.time()
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0
    except Exception as e:
        elapsed = time.time() - t0
        if timeout and elapsed >= timeout - 1:
            return ("timeout", f"cancelled after {elapsed:.0f}s")
        return ("error", str(e)[:300])
    finally:
        done.set()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf1", default="/tmp/sif_sf1")
    ap.add_argument("--timeout", type=float, default=900.0)
    ap.add_argument("--out", default="/tmp/decade_sweep.json")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from sif_spark.queries import QUERIES

    only = set(args.queries)
    spark = get_session("decade_sweep")
    results: dict[str, dict] = {}
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        a = run_once(spark, fn, BASE)
        if not isinstance(a, float):
            results[name] = {"status": a[0], "detail": a[1], "at": "sf0.1"}
            print(f"  {name}: {a[0]} at sf0.1: {a[1]}", file=sys.stderr)
            continue
        b = run_once(spark, fn, args.sf1, timeout=args.timeout)
        if not isinstance(b, float):
            results[name] = {
                "status": b[0], "detail": b[1], "at": "sf1",
                "t_sf01": round(a, 3),
            }
            print(f"  {name}: {b[0]} at sf1: {b[1]}", file=sys.stderr)
            continue
        a2 = run_once(spark, fn, BASE)
        t01 = min(a, a2) if isinstance(a2, float) else a
        ratio = b / t01 if t01 > 0 else float("inf")
        results[name] = {
            "status": "ok",
            "t_sf01": round(t01, 3),
            "t_sf1": round(b, 3),
            "ratio": round(ratio, 2),
            "exponent": round(math.log10(ratio), 3) if ratio > 0 else None,
        }
        print(
            f"  {name}: {t01:.2f}s -> {b:.2f}s  ratio {ratio:.1f}  "
            f"exp {math.log10(max(ratio, 1e-9)):.2f}",
            file=sys.stderr,
        )
        gc.collect()

    ok = {k: v for k, v in results.items() if v["status"] == "ok"}
    ratios = sorted(v["ratio"] for v in ok.values())
    summary = {
        "entries": len(results),
        "ok": len(ok),
        "timeouts": [k for k, v in results.items() if v["status"] == "timeout"],
        "errors": [k for k, v in results.items() if v["status"] == "error"],
        "median_ratio": ratios[len(ratios) // 2] if ratios else None,
        "superlinear_gt13x": sorted(
            (k for k, v in ok.items() if v["ratio"] > 13), key=lambda k: -ok[k]["ratio"]
        ),
        "results": results,
    }
    line = json.dumps(summary)
    print(line)
    with open(args.out, "w") as f:
        f.write(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
