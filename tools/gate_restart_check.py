"""Cross-process gate restart check (r13, VERDICT r12 task 8).

The grown-seed resume pytest covers IN-process resume; this scenario
covers the ops reality: the ingest-gate PROCESS dies between batches
(hard ``os._exit`` after the batch commit — no graceful Spark/JVM
shutdown, so committer scratch and checkpoint temp state are left
exactly as a crash leaves them) and a FRESH process with a fresh
SparkSession resumes against the same work_dir, bootstrapping purely
from the persisted fingerprint index + committed sink. The admitted
DOC SETS must be byte-identical to an uninterrupted single-process run
over the same batches — for BOTH the exact gate (t10 shape,
``incremental_ingest_dedup``) and the near-dup gate (t11 shape,
``incremental_neardup_ingest``).

Prints one JSON line per gate: {"gate": ..., "ref_n": N,
"restart_n": N, "identical": true, ...}; exit code 0 iff both match.

Usage: python tools/gate_restart_check.py
(internal worker mode: ... worker <gate> <phase> <work_dir> <out_json>)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# deterministic corpus: 3 batches, duplicates planted within batches,
# across batches, and against the seed — every admission tier exercised
N_PER_BATCH = 120


def _batch_rows(b: int) -> list[tuple[int, str]]:
    rows = []
    for i in range(N_PER_BATCH):
        doc_id = b * 1000 + i
        if i % 5 == 0:
            # cross-batch exact family: identical text in every batch
            text = f"shared family {i % 20} common tokens alpha beta gamma"
        elif i % 7 == 1:
            # near-dup family: one token differs per batch member
            text = (
                f"near family {i % 10} lorem ipsum dolor sit amet tokens "
                f"{'x' if b == 0 else 'y'}{b}"
            )
        elif i % 11 == 2:
            text = "seeded sentinel text never admitted"  # collides with seed
        else:
            text = f"unique document {doc_id} payload " + " ".join(
                f"tok{(doc_id * 31 + j) % 97}" for j in range(24)
            )
        rows.append((doc_id, text))
    return rows


def _worker(gate: str, phase: str, work: str, out_json: str) -> None:
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.session import get_spark
    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        incremental_ingest_dedup,
        incremental_neardup_ingest,
    )

    spark = get_spark(app_name=f"gate-restart-{gate}-{phase}", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    seed = spark.createDataFrame(
        [(900_000, "seeded sentinel text never admitted")], schema
    )
    if phase == "ref":
        batches = [spark.createDataFrame(_batch_rows(b), schema) for b in range(3)]
    elif phase == "first":
        batches = [spark.createDataFrame(_batch_rows(0), schema)]
    else:  # "resume": the remaining batches in a FRESH session
        # a new cache_key, so the resumed run streams under its own
        # checkpoint — the gate's state of record is the persisted index
        # + committed sink, which is the point
        batches = [spark.createDataFrame(_batch_rows(b), schema) for b in (1, 2)]
    if gate == "t10":
        got = incremental_ingest_dedup(
            spark, batches, cache_key=f"restart_{gate}_{phase}", seed=seed,
            work_dir=work,
        )
        cols = ("doc_id", "fingerprint")
    else:  # t11 takes no seed corpus
        got = incremental_neardup_ingest(
            spark, batches, cache_key=f"restart_{gate}_{phase}", work_dir=work
        )
        cols = ("doc_id",)
    admitted = sorted(tuple(str(r[c]) for c in cols) for r in got.collect())
    with open(out_json, "w") as fh:
        json.dump(admitted, fh)
    if phase == "first":
        # hard crash: no Spark stop, no atexit, JVM torn down abruptly —
        # the state a killed gate process actually leaves behind
        sys.stdout.flush()
        os._exit(0)
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "worker":
        _worker(*sys.argv[2:6])
        return
    ok = True
    for gate in ("t10", "t11"):
        root = tempfile.mkdtemp(prefix=f"arm_restart_{gate}_")
        ref_out = os.path.join(root, "ref.json")
        p1_out = os.path.join(root, "p1.json")
        p2_out = os.path.join(root, "p2.json")
        runs = [
            ("ref", os.path.join(root, "work_ref"), ref_out),
            ("first", os.path.join(root, "work_restart"), p1_out),
            ("resume", os.path.join(root, "work_restart"), p2_out),
        ]
        for phase, work, out in runs:
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "worker", gate, phase,
                 work, out],
                capture_output=True, text=True,
            )
            if not os.path.exists(out):
                print(json.dumps({
                    "gate": gate, "phase": phase, "error": r.stderr[-2000:],
                }))
                sys.exit(1)
        ref = json.load(open(ref_out))
        # the restart run's admitted set = phase 1's committed output +
        # the resumed process's output (each call returns its own rows:
        # the sink is keyed by call, then by in-call epoch, so the
        # resumed run's e0 is its OWN first batch; the gate's state of
        # record — the persisted index — is what carries phase 1's
        # admissions forward, and doc_ids are globally unique across
        # batches so a plain union is exact)
        restart = sorted(
            {tuple(x) for x in json.load(open(p1_out))}
            | {tuple(x) for x in json.load(open(p2_out))}
        )
        identical = sorted(tuple(x) for x in ref) == restart
        ok = ok and identical
        print(json.dumps({
            "gate": gate,
            "ref_n": len(ref),
            "restart_n": len(restart),
            "phase1_n": len(json.load(open(p1_out))),
            "identical": identical,
        }), flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
