"""SparkSession factory with scale-appropriate defaults.

The same builder serves local[32] testing and a real cluster: everything
here is either semantics (UTC timestamps, Arrow for Python kernels) or a
knob AQE re-tunes at runtime (shuffle partitions, skew join, coalescing).
Nothing is hard-coded to local mode except the fallback master.
"""

from __future__ import annotations

import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Semantics + execution configs that must hold at any scale.
_BASE_CONFS: dict[str, str] = {
    # DuckDB-oracle comparability + sane cross-engine semantics: duckdb
    # timestamps are UTC-naive, Spark's are session-TZ.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for every pandas_udf / mapInPandas kernel (the only
    # Python that touches the hot path — SURVEY §1.4).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # AQE: runtime partition coalescing, skew-join splitting, and
    # broadcast-join demotion/promotion. This is the 100 TB safety net —
    # static shuffle-partition counts are wrong at some scale no matter
    # what we pick (SURVEY §4.3-5).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/customer at small SF, any dim <10MB
    # default) broadcast automatically; keep the default threshold but be
    # explicit that we rely on it.
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
    # Partial aggregation pushdown below shuffles is default-on; codegen
    # spans should stay wide — no config needed, listed for intent.
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Scan-split sizing: 128 MB splits (the Spark default, pinned here as
    # an explicit contract) keep a 100 TB table at ~800k input tasks and
    # each task's columnar batch comfortably inside executor memory;
    # raise for wide-row tables, lower only if per-task memory is tight —
    # AQE coalesces the post-shuffle side, this governs the scan side.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Every stage's task binary and every parquet scan's Hadoop-conf
    # broadcast is blockified into chunks of this size on the driver heap
    # (TorrentBroadcast.blockifyObject); at the 4 MB default a few-KB
    # broadcast still allocates a whole 4 MB chunk, so short jobs run back
    # to back grow the driver heap with garbage. The blocks of a large
    # broadcast just become more numerous.
    "spark.broadcast.blockSize": "512k",
}


def get_spark(
    app_name: str = "actuarial-reserve-modelling-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a cluster, ``master`` comes from spark-submit and
    ``shuffle_partitions`` should be ~2-3x total executor cores (AQE
    coalesces down). Locally we default to local[$SPARK_GRAFT_CPUS] with
    shuffle partitions = cores, per the test harness contract.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    confs = dict(_BASE_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else int(cpus)
    )
    confs.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors (idempotent).

    Our Arrow kernels (``mapInPandas``/``applyInPandas``) reference
    module-level helpers, which cloudpickle serializes *by reference* —
    the worker must be able to ``import actuarial_reserve_modelling_spark``.
    On a real cluster that's ``spark-submit --py-files pkg.zip``; here we
    zip the package and ``addPyFile`` it, which works identically in
    local mode and on executors. Call this on any externally-created
    SparkSession (e.g. the driver harness's) before running our queries.
    """
    if getattr(spark, "_arm_pkg_shipped", False):
        return
    try:
        sc = spark.sparkContext
    except Exception:  # Spark Connect session — rely on env propagation
        return
    pkg_dir = pathlib.Path(__file__).resolve().parent
    zpath = os.path.join(
        tempfile.gettempdir(), f"arm_spark_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        import atexit

        with zipfile.ZipFile(zpath, "w") as z:
            for p in sorted(pkg_dir.rglob("*.py")):
                z.write(p, p.relative_to(pkg_dir.parent))
        atexit.register(lambda: os.path.exists(zpath) and os.remove(zpath))
    sc.addPyFile(zpath)
    spark._arm_pkg_shipped = True
