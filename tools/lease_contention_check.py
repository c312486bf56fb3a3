"""Two-PROCESS writer-lease contention check (r13, VERDICT r12 task 1
acceptance, cross-process form — tests/test_lease.py simulates the
foreign holder with a hand-written lease file; this drives two real
processes with real SparkSessions at one tier).

Scenario: process A acquires the tier's writer lease and holds it
(signalling acquisition through a marker file); process B attempts a
real `add_to_vecsig_index` while A holds — B must exit with
ConcurrentWriterError (exit code 42). After A releases, B's retry must
succeed and the tier must hold exactly base+batch vectors with an
exact advisory count.

Prints one JSON line; exit 0 iff the refusal AND the post-release
retry both behave.

Usage: python tools/lease_contention_check.py
(worker modes: `holder <path> <marker> <hold_sec>`, `adder <path>`)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark():
    from actuarial_reserve_modelling_spark.session import get_spark

    spark = get_spark(app_name="lease-contention", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vecs(spark, lo: int, hi: int):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (i + 3)) % 11).cast("double") + 0.25 for i in range(8)]
        ).alias("embedding"),
    )


def _holder(path: str, marker: str, hold_sec: float) -> None:
    # a plain lease holder — no Spark needed: holding is pure filesystem
    from actuarial_reserve_modelling_spark.sources.lease import writer_lease

    with writer_lease(path, writer_id="holder-process"):
        with open(marker, "w") as fh:
            fh.write("held")
        time.sleep(hold_sec)


def _adder(path: str) -> None:
    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_vecsig_index,
    )
    from actuarial_reserve_modelling_spark.sources.lease import ConcurrentWriterError

    spark = _spark()
    try:
        add_to_vecsig_index(spark, path, _vecs(spark, 100, 120))
    except ConcurrentWriterError:
        sys.exit(42)
    sys.exit(0)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "holder":
        _holder(sys.argv[2], sys.argv[3], float(sys.argv[4]))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "adder":
        _adder(sys.argv[2])
        return

    from actuarial_reserve_modelling_spark.operators.similarity import (
        persist_vecsig_index,
    )
    from actuarial_reserve_modelling_spark.sources.tiers import read_index_stats

    root = tempfile.mkdtemp(prefix="arm_lease_contention_")
    path = os.path.join(root, "tier")
    marker = os.path.join(root, "held.marker")
    spark = _spark()
    persist_vecsig_index(
        _vecs(spark, 0, 100), path, num_planes=4, num_tables=2, dim=8
    )

    me = os.path.abspath(__file__)
    holder = subprocess.Popen([sys.executable, me, "holder", path, marker, "60"])
    t0 = time.time()
    while not os.path.exists(marker):
        if time.time() - t0 > 30 or holder.poll() is not None:
            print(json.dumps({"error": "holder never acquired"}))
            sys.exit(1)
        time.sleep(0.1)

    blocked = subprocess.run(
        [sys.executable, me, "adder", path], capture_output=True, text=True
    )
    refused = blocked.returncode == 42

    holder.terminate()
    holder.wait()
    # the holder was SIGTERMed mid-hold — its lease file survives as a
    # dead writer's; the retry must break it once stale. For the check,
    # age it out instead of waiting a full TTL.
    lease = os.path.join(path, "_writer_lease")
    if os.path.exists(lease):
        t = time.time() - 3600
        os.utime(lease, (t, t))
    retry = subprocess.run(
        [sys.executable, me, "adder", path], capture_output=True, text=True
    )
    retried_ok = retry.returncode == 0

    n = spark.read.parquet(path + "/vectors").select("vec_id").distinct().count()
    stats = read_index_stats(spark, path)
    exact = n == 120 and stats == 120
    print(
        json.dumps(
            {
                "refused_while_held": refused,
                "refusal_stderr_names_holder": "holder-process" in blocked.stderr,
                "retry_after_release_ok": retried_ok,
                "tier_vectors": n,
                "advisory_stats": stats,
                "tier_exact_after": exact,
                "ok": refused and retried_ok and exact,
            }
        )
    )
    sys.exit(0 if (refused and retried_ok and exact) else 1)


if __name__ == "__main__":
    main()
