"""Persisted vector-signature-tier stress (r11, pairs with l43): build
+ persist the vecsig tier at a sweep of corpus sizes, then ingest the
SAME fixed-size vector batch against each and record, per corpus size,

* the index bytes BEHIND the batch's pruned reads — the batch's spart
  signature directories plus the candidates' vector id-hash buckets,
  i.e. the ceiling on index bytes the pruned lookup can touch (the
  pre-r11 gate re-read and re-shuffled the WHOLE signature index per
  batch);
* the wall of ``lsh_cosine_dedup_against_index_persisted`` vs the
  full-scan ``lsh_cosine_dedup_against_index`` twin;
* planted-twin exactness (every twin must pair with its source at
  sim=1.0, nothing else at τ=0.9) and pruned==full answers.

Acceptance curve: touched-bytes stays ~flat as the corpus grows
(auto-sized directory counts grow with the corpus, so a fixed batch's
touched fraction shrinks), while the full-scan twin's cost grows with
the corpus.

Usage: python tools/vecsig_stress.py [batch_vecs] [n ...]
(defaults: 200 32000 128000 512000)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

DIM = 64


def _dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.startswith("_"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def main() -> None:
    batch_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    sizes = [int(a) for a in sys.argv[2:]] or [32_000, 128_000, 512_000]

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        vecsig_spart,
        hyperplane_signatures_multi,
        load_vecsig_index,
        lsh_cosine_dedup_against_index,
        lsh_cosine_dedup_against_index_persisted,
        persist_vecsig_index,
        read_vecsig_index_meta,
    )
    from actuarial_reserve_modelling_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    rows = []
    for n in sizes:
        rng = np.random.default_rng(17)
        pts = rng.standard_normal((n, DIM))
        corpus = (
            spark.createDataFrame(
                [(i, [float(x) for x in v]) for i, v in enumerate(pts)], schema
            )
            .repartition(32)
            .localCheckpoint()
        )
        # fixed batch: half exact twins of evenly-spread corpus vectors
        # (+10M ids), half fresh random vectors (salted rng)
        n_twin = batch_vecs // 2
        step = max(1, n // n_twin)
        src = list(range(0, n, step))[:n_twin]
        fresh_rng = np.random.default_rng(29)
        fresh = fresh_rng.standard_normal((batch_vecs - n_twin, DIM))
        batch = spark.createDataFrame(
            [(s + 10_000_000, [float(x) for x in pts[s]]) for s in src]
            + [
                (20_000_000 + j, [float(x) for x in v])
                for j, v in enumerate(fresh)
            ],
            schema,
        ).localCheckpoint()

        d = tempfile.mkdtemp(prefix="arm_vecsig_stress_") + "/idx"
        t0 = time.time()
        persist_vecsig_index(corpus, d)
        t_persist = time.time() - t0
        meta = read_vecsig_index_meta(spark, d)

        t0 = time.time()
        found_pruned = {
            (r["new_id"], r["index_id"], r["sim"])
            for r in lsh_cosine_dedup_against_index_persisted(
                spark, d, batch, threshold=0.9, route="pruned"
            ).collect()
        }
        t_pruned = time.time() - t0

        # r12 adaptive router: must match whichever twin it picked and
        # land at (or under, thanks to the fused footprint job) the
        # better twin's wall
        t0 = time.time()
        found_routed = {
            (r["new_id"], r["index_id"], r["sim"])
            for r in lsh_cosine_dedup_against_index_persisted(
                spark, d, batch, threshold=0.9, route="auto"
            ).collect()
        }
        t_routed = time.time() - t0

        sig_idx, vec_idx = load_vecsig_index(spark, d)
        t0 = time.time()
        found_full = {
            (r["new_id"], r["index_id"], r["sim"])
            for r in lsh_cosine_dedup_against_index(
                batch, sig_idx, vec_idx, threshold=0.9
            ).collect()
        }
        t_full = time.time() - t0

        want = {(s + 10_000_000, s, 1.0) for s in src}

        # bytes behind the pruned reads: the batch's spart directories +
        # the matched candidates' id-hash buckets
        sparts = {
            int(r["spart"])
            for r in hyperplane_signatures_multi(
                batch, meta["num_planes"], meta["num_tables"], meta["seed"], DIM
            )
            .withColumn("spart", vecsig_spart(meta["k_sig_parts"]))
            .select("spart")
            .distinct()
            .collect()
        }
        sig_touched = sum(
            _dir_bytes(f"{d}/sigs/spart={p}")
            for p in sparts
            if os.path.isdir(f"{d}/sigs/spart={p}")
        )
        cparts = (
            {
                int(r["part"])
                for r in spark.createDataFrame(
                    [(i,) for _, i, _ in found_pruned], "vec_id long"
                )
                .select(
                    F.pmod(F.xxhash64(F.col("vec_id")), F.lit(meta["n_buckets"]))
                    .cast("int")
                    .alias("part")
                )
                .distinct()
                .collect()
            }
            if found_pruned
            else set()
        )
        vec_touched = sum(
            _dir_bytes(f"{d}/vectors/part={p}")
            for p in cparts
            if os.path.isdir(f"{d}/vectors/part={p}")
        )
        sig_total = _dir_bytes(d + "/sigs")
        vec_total = _dir_bytes(d + "/vectors")

        rows.append(
            {
                "corpus_vecs": n,
                "batch_vecs": batch_vecs,
                "n_buckets": meta["n_buckets"],
                "k_sig_parts": meta["k_sig_parts"],
                "persist_sec": round(t_persist, 2),
                "lookup_pruned_sec": round(t_pruned, 2),
                "lookup_full_sec": round(t_full, 2),
                "sig_touched_mb": round(sig_touched / 1e6, 2),
                "sig_total_mb": round(sig_total / 1e6, 2),
                "vec_touched_mb": round(vec_touched / 1e6, 2),
                "vec_total_mb": round(vec_total / 1e6, 2),
                "touched_fraction": round(
                    (sig_touched + vec_touched) / max(1, sig_total + vec_total), 4
                ),
                "lookup_routed_sec": round(t_routed, 2),
                "pruned_equals_full": found_pruned == found_full,
                "routed_equals_full": found_routed == found_full,
                "twins_exact": found_pruned == want,
            }
        )
        print(json.dumps(rows[-1]), flush=True)

    print(json.dumps({"sweep": rows}))


if __name__ == "__main__":
    main()
