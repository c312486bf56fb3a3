"""Driver cost of the t11 gate's within-batch near-dup tier
(``operators/dedup.py::minhash_near_dup_local``) for one micro-batch:
wall time and peak RSS of the process, with the gate's parameters
(16 bands x 16 rows, tau = 0.95).

Batches:

* ``docs N``: the first N rows of ``<sf_dir>/documents.parquet``
  (the registry corpus, N <= its row count);
* ``hit N``: N distinct docs that all share 60 tokens and differ in one,
  so every pair shares buckets AND verifies (Jaccard 60/62): the most
  candidate and verified pairs a batch of N rows can produce;
* ``miss N``: the same with 30 shared tokens (Jaccard 30/32 < tau):
  every pair shares buckets, none verifies.

Each case runs in a fresh process so the RSS reading is its own.

Usage: python tools/neardup_local_cost.py [sf_dir] [case:N ...]
(default: $SPARK_GRAFT_SF_DIR or sf0.1, docs:1667 docs:5000 hit:1000 hit:2000 miss:2000)
"""

from __future__ import annotations

import os
import resource
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def batch(case: str, n: int, sf_dir: str) -> list[tuple[int, list[int]]]:
    if case == "docs":
        import pyarrow.parquet as pq

        t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
        ids = t.column("doc_id").to_pylist()[:n]
        texts = t.column("text").to_pylist()[:n]
        # any injective token hash gives the same pairs; Python's str
        # hash stands in for xxhash64 here
        return [
            (i, sorted({hash(w) for w in s.split(" ") if w}))
            for i, s in zip(ids, texts)
        ]
    shared = {"hit": 60, "miss": 30}[case]
    base = list(range(1, shared + 1))
    return [(i, sorted(base + [10_000 + i])) for i in range(n)]


def one(case: str, n: int, sf_dir: str) -> None:
    sys.path.insert(0, REPO)
    from actuarial_reserve_modelling_spark.operators.dedup import (
        minhash_near_dup_local,
    )

    rows = batch(case, n, sf_dir)
    before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    t0 = time.perf_counter()
    near = minhash_near_dup_local(rows, threshold=0.95, bands=16, rows_per_band=16)
    reps = near.reps()
    wall = time.perf_counter() - t0
    peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    print(
        f"{case}:{n} reps={len(near.members)} verified={len(near.verified)} "
        f"kept={sum(1 for d, r in reps.items() if d == r)} wall={wall:.2f}s "
        f"peak_rss={peak / 1024:.0f}MB (+{(peak - before) / 1024:.0f}MB)",
        flush=True,
    )


def main() -> None:
    args = sys.argv[1:]
    if len(args) == 4 and args[0] == "--one":
        one(args[1], int(args[2]), args[3])
        return
    sys.path.insert(0, REPO)
    from actuarial_reserve_modelling_spark.catalog import DEFAULT_SF_DIR

    sf_dir = DEFAULT_SF_DIR
    if args and ":" not in args[0]:
        sf_dir, args = args[0], args[1:]
    cases = args or ["docs:1667", "docs:5000", "hit:1000", "hit:2000", "miss:2000"]
    for c in cases:
        case, n = c.split(":")
        subprocess.run(
            [sys.executable, __file__, "--one", case, n, sf_dir], check=True
        )


if __name__ == "__main__":
    main()
