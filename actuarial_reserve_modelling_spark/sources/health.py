"""Tier health/describe primitive (r13).

The persisted tiers now have a full lifecycle (build / add / delete /
compact / vacuum / recall-audit / single-writer lease), but an operator
inspecting a tier had to assemble its state by hand from five places.
``tier_health`` is the one-call summary — everything is either pure
filesystem metadata or the tiny meta/stats datasets, so it is cheap
enough for a monitoring cadence and READ-ONLY (takes no lease; safe
concurrent with any writer).
"""

from __future__ import annotations

import json
import os
import time
from urllib.parse import urlparse

from pyspark.sql import SparkSession

from actuarial_reserve_modelling_spark.sources.lease import (
    DEFAULT_TTL_SEC,
    LEASE_NAME,
    _read_holder,
)


def tier_health(
    spark: SparkSession | None,
    path: str,
    ttl: float = DEFAULT_TTL_SEC,
) -> dict:
    """Ops summary of a persisted tier (or gate work-dir) root:

    * ``datasets``: per immediate child dataset — partition-directory
      count, data-file count, total bytes, max files in one partition
      (the compaction-pressure signal the auto-compact threshold acts
      on).
    * ``meta`` / ``stats_n_rows``: the tier's build parameters and
      advisory corpus count (None when absent — pre-r12 tier or
      mid-rewrite crash; consumers route pruned on None by contract).
    * ``recall_curve``: the persisted recall/probe curve (ANN tiers
      after ``persist_recall_audit``; None elsewhere) with the corpus
      size it was measured at.
    * ``writer``: the current lease holder (id/pid/host/heartbeat age)
      with ``live`` = heartbeat younger than ttl, or None when
      unheld — dead holders surface as ``live: False`` until a writer
      breaks the stale lease.
    * ``orphans``: reclaimable paths a deleting ``vacuum_index`` would
      remove (dry-run listing, nothing is touched).

    Driver-side filesystem walk + two one-row parquet reads; no Spark
    jobs over data. Local roots only for the filesystem sections
    (object-store roots report datasets as None and keep the
    meta/stats reads, which go through Spark)."""
    from actuarial_reserve_modelling_spark.sources.sinks import vacuum_index

    out: dict = {"path": path}
    p = urlparse(path)
    local = (p.path if p.scheme == "file" else path) if p.scheme in ("", "file") else None

    datasets: dict[str, dict] | None = None
    if local is not None and os.path.isdir(local):
        datasets = {}
        for entry in sorted(os.scandir(local), key=lambda e: e.name):
            if not entry.is_dir() or entry.name.startswith(("_", ".")):
                continue
            n_parts = n_files = n_bytes = 0
            max_files_one_part = 0
            for dirpath, dirnames, filenames in os.walk(entry.path):
                dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
                if any("=" in d for d in dirnames):
                    n_parts += sum(1 for d in dirnames if "=" in d)
                here = 0
                for f in filenames:
                    if f.startswith(("_", ".")):
                        continue
                    n_files += 1
                    here += 1
                    try:
                        n_bytes += os.stat(os.path.join(dirpath, f)).st_size
                    except OSError:
                        pass
                max_files_one_part = max(max_files_one_part, here)
            datasets[entry.name] = {
                "partitions": n_parts,
                "data_files": n_files,
                "bytes": n_bytes,
                "max_files_in_partition": max_files_one_part,
            }
    out["datasets"] = datasets

    out["meta"] = out["stats_n_rows"] = out["recall_curve"] = None
    if spark is not None:
        from actuarial_reserve_modelling_spark.operators.similarity import (
            read_recall_stats,
        )
        from actuarial_reserve_modelling_spark.sources.tiers import read_index_stats

        try:
            row = spark.read.parquet(path + "/meta").first()
            out["meta"] = None if row is None else row.asDict()
        except Exception:
            pass
        out["stats_n_rows"] = read_index_stats(spark, path)
        # ANN tiers only; None elsewhere (advisory): the measured
        # recall/probe curve nprobe="auto" routes on, plus the corpus
        # size it was measured at (staleness signal vs stats_n_rows)
        out["recall_curve"] = read_recall_stats(spark, path)

    writer = None
    if local is not None:
        lp = os.path.join(local, LEASE_NAME)
        if os.path.exists(lp):
            holder = _read_holder(lp)
            try:
                age = round(time.time() - os.stat(lp).st_mtime, 1)
            except OSError:
                age = None
            writer = {
                "writer_id": holder.get("writer_id"),
                "pid": holder.get("pid"),
                "host": holder.get("host"),
                "heartbeat_age_sec": age,
                "live": age is not None and age <= ttl,
            }
    out["writer"] = writer

    out["orphans"] = vacuum_index(None, path, dry_run=True) if local else []
    return out


def main() -> None:  # pragma: no cover - thin CLI, logic tested via pytest
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from actuarial_reserve_modelling_spark.session import get_spark

    spark = get_spark(app_name="tier-health", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(tier_health(spark, sys.argv[1]), default=str))


if __name__ == "__main__":
    main()
