"""Cost of one hot-partition rewrite by ``Dataset.compact``: the driver
body (pyarrow) against the Spark body, by partition size.

Each size runs in a fresh process: a partition of ~SIZE MB uncompressed
written as 8 files, rewritten once on the driver (wall and the driver's
peak-RSS growth) and once through Spark's dynamic overwrite (wall, on a
copy). Two shapes: ``fingerprints`` (an id side: doc_id, 24 hashed
tokens, a 256-long signature, random longs that barely compress) and
``banded`` (a lookup side: doc_id, sz, band, bucket, each file sorted
by (band, bucket), which compresses well). Each row reports both the
on-disk and the uncompressed size (``_data_bytes``, the measure the
bound compares). The driver bound ``_LOCAL_COMPACT_MAX_BYTES`` in
``sources/tiers.py`` is read off this table.

Usage: python tools/local_compact_cost.py [--shape fingerprints|banded] [SIZE_MB ...]
       (default fingerprints, sizes 4 16 64 128)
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _table(shape: str, rng, rows: int, first_id: int):
    import numpy as np
    import pyarrow as pa

    if shape == "fingerprints":
        longs = pa.list_(pa.int64())
        return pa.table(
            {
                "doc_id": pa.array(np.arange(first_id, first_id + rows), pa.int64()),
                "htok": pa.array(list(rng.integers(-(2**62), 2**62, (rows, 24))), longs),
                "sig": pa.array(list(rng.integers(-(2**62), 2**62, (rows, 256))), longs),
            }
        )
    # one bpart of a 16-band tier: every bucket is a multiple of the 8 parts
    table = pa.table(
        {
            "doc_id": pa.array(rng.integers(0, 10_000_000, rows), pa.int64()),
            "sz": pa.array(rng.integers(10, 500, rows), pa.int32()),
            "band": pa.array(rng.integers(0, 16, rows), pa.int32()),
            "bucket": pa.array(rng.integers(-(2**28), 2**28, rows) * 8, pa.int32()),
        }
    )
    return table.sort_by([("band", "ascending"), ("bucket", "ascending")])


_ROW_BYTES = {"fingerprints": 8 * (1 + 24 + 256), "banded": 8 + 4 + 4 + 4}
_DATASETS = {"fingerprints": ("part", ()), "banded": ("bpart", ("band", "bucket"))}


def _one(shape: str, size_mb: int) -> dict:
    import numpy as np

    from actuarial_reserve_modelling_spark.session import get_spark
    from actuarial_reserve_modelling_spark.sources.tiers import (
        Dataset,
        _data_bytes,
        _write_file,
    )

    work = tempfile.mkdtemp(prefix="compact_cost_")
    pc, cell = _DATASETS[shape]
    ds = Dataset(shape, pc, cell=cell)
    rng = np.random.default_rng(size_mb)
    rows = max(1, size_mb * (1 << 20) // _ROW_BYTES[shape] // 8)
    for copy in ("local", "spark"):
        d = os.path.join(work, copy, shape, f"{pc}=0")
        os.makedirs(d)
    for f in range(8):
        table = _table(shape, rng, rows, f * rows)
        for copy in ("local", "spark"):
            _write_file(table, os.path.join(work, copy, shape, f"{pc}=0"))
    part = os.path.join(work, "local", shape, f"{pc}=0")
    files = [e.path for e in os.scandir(part) if e.name.endswith(".parquet")]
    size = sum(os.path.getsize(f) for f in files)
    raw = _data_bytes(files)
    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    t0 = time.perf_counter()
    ds._compact_local(os.path.join(work, "local", shape), 0)
    local_s = time.perf_counter() - t0
    rss = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - rss0) / 1024
    spark = get_spark(app_name="compact-cost", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(os.path.join(work, "spark", shape)).count()  # warm
    t0 = time.perf_counter()
    ds._compact_spark(spark, os.path.join(work, "spark", shape), [0])
    spark_s = time.perf_counter() - t0
    shutil.rmtree(work)
    return {"shape": shape, "disk_mb": round(size / (1 << 20), 1),
            "raw_mb": round(raw / (1 << 20), 1), "rows": 8 * rows,
            "local_s": round(local_s, 2), "local_rss_mb": round(rss),
            "spark_s": round(spark_s, 2)}


def main(argv: list[str]) -> int:
    if argv[:1] == ["worker"]:
        print(json.dumps(_one(argv[1], int(argv[2]))), flush=True)
        return 0
    shape = "fingerprints"
    if argv[:1] == ["--shape"]:
        shape, argv = argv[1], argv[2:]
    if shape not in _DATASETS:
        raise SystemExit(f"--shape must be one of {sorted(_DATASETS)}")
    for mb in [int(a) for a in argv] or [4, 16, 64, 128]:
        out = subprocess.run([sys.executable, __file__, "worker", shape, str(mb)],
                             capture_output=True, text=True, check=True).stdout
        print(out.strip().splitlines()[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
