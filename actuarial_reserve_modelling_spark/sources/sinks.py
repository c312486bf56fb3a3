"""Write-side operators (SURVEY §2.1 S5-S7).

* S5 — scalar text sink: the reference writes one float per (worker,
  file) as ``output/<job_id>/<file>.txt`` (main.rs:81,
  entrypoint.sh:14-22). Spark-native: ``repartition(k).write.text``.
* S6 — partitioned parquet sink: the 100 TB layout (hive-style
  partition directories, pruned on read).
* S7 — idempotent/resumable writes: the reference skips a file when its
  output exists (entrypoint.sh:24-28). Spark-native equivalents:
  ``mode('ignore')`` for whole-dataset skip and *dynamic partition
  overwrite* for deterministic per-partition recompute — rerunning a
  failed job rewrites exactly the partitions it owns, nothing else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_scalar_text(df: DataFrame, path: str, num_files: int = 1) -> None:
    """S5: write a (single-column castable-to-string) result as text
    files, one value per line, ``num_files`` output partitions."""
    out = df.select(F.col(df.columns[0]).cast("string").alias("value"))
    out.repartition(num_files).write.mode("overwrite").text(path)


def read_scalar_text(spark: SparkSession, path: str) -> DataFrame:
    """Re-read an S5 sink (the Lambda's gather, lambda:28-33) — sums the
    per-partition scalars; empty lines/files are filtered like the
    Lambda's Size>0 predicate."""
    txt = spark.read.text(path)
    return txt.filter(F.length(F.trim("value")) > 0).select(
        F.col("value").cast("double").alias("value")
    )


def write_partitioned_parquet(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """S6: hive-partitioned parquet layout; readers prune on the
    partition columns. Writer-side: keep files big (repartition by the
    partition cols first so each directory gets few, large files —
    the small-files problem is the #1 operational failure at 100 TB)."""
    df.repartition(*[F.col(c) for c in partition_cols]).write.mode("overwrite").partitionBy(
        *partition_cols
    ).parquet(path)


def write_if_absent(df: DataFrame, path: str) -> bool:
    """S7a: whole-dataset idempotent write — ``mode('ignore')`` is a
    no-op when output exists (the entrypoint.sh:24 check, minus the
    race). Returns True if a write happened."""
    import os

    existed = os.path.exists(path)
    df.write.mode("ignore").parquet(path)
    return not existed


def overwrite_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """S7b: resumable per-partition recompute — dynamic partition
    overwrite replaces only the partitions present in ``df``, leaving
    completed partitions untouched. This is the scalable form of the
    reference's per-file skip: recompute is idempotent per partition.

    The mode is passed as a per-write DataFrameWriter option (overrides
    the session conf, Spark >=2.4) rather than by mutating the
    session-global ``spark.sql.sources.partitionOverwriteMode``: with
    concurrent driver threads (overlapped compactions), a set/restore
    of the session conf can race — one thread's restore to 'static'
    landing before another thread's partitioned overwrite reads the
    conf would turn that write into a STATIC overwrite, deleting every
    partition not present in its frame."""
    (
        df.write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


_STAGING: dict[tuple[str, str], str] = {}


def staging_dir(tag: str, sf_dir: str) -> tuple[str, bool]:
    """Per-process staging directory for write-roundtrip registry
    queries (s2/s5b/s5c/s6/s7/s9/s10/s11).

    Returns ``(path, fresh)``. The directory is created once per
    ``(tag, sf_dir)`` and removed at interpreter exit; ``fresh=False``
    tells the caller a prior build in this process already produced the
    sink output, so it can skip re-writing and just read it back. Tools
    that BUILD every registry query without executing it (plan_audit,
    explain_dump) would otherwise rewrite these datasets on every sweep
    and leak one temp directory per build.

    A build only counts as done once the caller calls
    ``staging_commit(path)`` after its writes succeed: ``fresh`` is
    derived from a done-marker file, not mere registration, so a build
    that raised mid-write is retried on the next call instead of being
    silently read back as partial output.
    """
    import atexit
    import os
    import shutil
    import tempfile

    key = (tag, sf_dir)
    if key in _STAGING:
        d = _STAGING[key]
        # no marker → a prior build started but never committed
        # (raised mid-write); hand the same dir back as fresh so the
        # caller rebuilds with mode=overwrite.
        return d, not os.path.exists(os.path.join(d, _DONE_MARKER))
    d = tempfile.mkdtemp(prefix=f"arm_{tag}_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    _STAGING[key] = d
    return d, True


_DONE_MARKER = "_ARM_STAGING_DONE"


def staging_commit(path: str) -> None:
    """Mark a ``staging_dir`` build complete (see staging_dir docs)."""
    import os

    with open(os.path.join(path, _DONE_MARKER), "w") as fh:
        fh.write("done")


def compact_parquet_dir(spark: SparkSession, path: str, target_files: int = 4) -> int:
    """Compact a directory of small parquet files (e.g. the epoch-keyed
    index appends the streaming ingest gates produce) into
    ``target_files`` large files — the OPTIMIZE/compaction step that
    keeps an append-heavy layout readable: the small-files problem is
    the #1 operational failure of long-running ingest at 100 TB, and an
    index appended once per micro-batch accretes one directory per
    epoch forever without it.

    Contract: contents are preserved exactly (same rows, one combined
    layout); readers that use recursive lookup see either the old, the
    new, or (in the crash window) a doubled layout. The swap order is
    deliberately rename-in FIRST, delete-old SECOND: a crash between
    the two steps leaves BOTH generations visible, and every consumer
    of this index (the ingest gates) reads it through ``distinct()``,
    so doubled rows are absorbed. The reverse order (delete → rename)
    would leave data only under an underscore-prefixed ``_tmp_*`` dir
    that Spark's file listing ignores — the index would read back
    EMPTY and the gates would silently re-admit duplicates. Crash-window
    *atomicity* needs a transactional table format (out of scope); this
    operator guarantees the benign failure mode. Returns the file count
    after compaction.
    """
    import os
    import shutil
    import uuid

    from actuarial_reserve_modelling_spark.sources.lease import (
        LEASE_NAME,
        writer_lease,
    )

    with writer_lease(path):
        df = spark.read.option("recursiveFileLookup", "true").parquet(path)
        gen = f"compacted_{uuid.uuid4().hex[:8]}"
        tmp = os.path.join(path, f"_tmp_{gen}")
        df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
        old_entries = [
            e
            for e in os.listdir(path)
            if e != f"_tmp_{gen}" and e != LEASE_NAME
        ]
        os.rename(tmp, os.path.join(path, gen))
        for entry in old_entries:
            full = os.path.join(path, entry)
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                os.remove(full)
        return sum(
            1
            for _, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot diff: classify every key as ``added`` (only in new),
    ``removed`` (only in old), or ``changed`` (present in both with a
    different content hash over ``compare_cols``; unchanged keys are
    dropped). The data-management primitive behind incremental
    re-publication and audit (what moved between yesterday's corpus
    snapshot and today's).

    Shape at scale: each side collapses map-side to (key, 8-byte row
    hash) before one full-outer hash join, so row content never
    shuffles, and unchanged keys (the overwhelming majority of a daily
    diff) drop immediately after the join. The hash is STRUCTURAL
    (``xxhash64`` over the column values, each length-framed by the
    hasher, interleaved with per-column null flags — Spark's hash
    functions SKIP null operands, so the flags are what keeps a NULL
    moving between columns, or NULL vs empty string, from colliding),
    not a string concatenation — so adjacent-column boundary shifts
    (('ab','c') vs ('a','bc')) cannot be silently classified
    "unchanged" either. Column order inside the hash is pinned by
    ``compare_cols`` order, so schema projection changes cannot
    silently flip hashes. Precondition: ``key_cols`` uniquely identify
    a row on each side (the full-outer join is 1:1 per key; duplicate
    keys would fan out)."""
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in key_cols]
    hash_inputs = []
    for c in compare_cols:
        hash_inputs.append(F.col(c))
        hash_inputs.append(F.col(c).isNull())
    digest = F.xxhash64(*hash_inputs)
    o = old.select(*key_cols, digest.alias("_h_old"))
    n = new.select(*key_cols, digest.alias("_h_new"))
    joined = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old") != F.col("_h_new"), F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*key_cols, "change_type")
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a managed parquet table hash-BUCKETED (and by
    default sorted) on ``key`` — the co-located-join layout: two tables
    bucketed on the same key with the same bucket count join WITHOUT
    either side shuffling, because each bucket file pair is already
    partition-aligned (and pre-sorted, so SortMergeJoin also skips its
    sorts). This is the storage-layout answer to the 100 TB fact⨝fact
    join: pay the shuffle ONCE at write time, amortized over every
    subsequent join, instead of on every query. Rebuilds are idempotent
    even across SESSIONS: with the default in-memory catalog a previous
    process's managed-table directory survives in the warehouse while
    the catalog entry does not, and ``saveAsTable`` then fails with
    LOCATION_ALREADY_EXISTS — so the stale local location is removed
    along with any existing catalog entry before writing (persistent
    metastores are handled by the DROP alone). The location is taken
    from the CATALOG when the table is registered (qualified names'
    managed layout is ``warehouse/<db>.db/<tbl>``, NOT
    ``warehouse/<tbl>`` — guessing from the name could delete an
    unrelated default-database table's data), falls back to the
    managed-layout rule only for catalog-less stale directories, and
    never deletes anything OUTSIDE the warehouse dir (an external
    table's data must survive its DROP)."""
    import os
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    loc = None
    if spark.catalog.tableExists(table):
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        loc = next(
            (r["data_type"] for r in rows if r["col_name"] == "Location"), None
        )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if wh.scheme in ("", "file"):
        if loc is not None:
            p = urlparse(loc)
            target = p.path if p.scheme in ("", "file") else None
        else:
            parts = table.rsplit(".", 1)
            target = (
                os.path.join(wh.path, f"{parts[0]}.db", parts[1])
                if len(parts) == 2
                else os.path.join(wh.path, parts[0])
            )
        wh_real = os.path.realpath(wh.path)
        if target is not None and os.path.realpath(target).startswith(
            wh_real + os.sep
        ):
            shutil.rmtree(target, ignore_errors=True)
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def vacuum_index(
    spark: SparkSession | None,
    root: str,
    dry_run: bool = True,
    retention_generations: int = 1,
) -> list[str]:
    """Reclaim dead bytes under a persisted-tier (or gate work-dir)
    root — the retention/ops primitive the r11 verdict flagged as the
    first gap a production user hits: ``staging_dir``-style aborted
    writes and dynamic-partition-overwrite crash windows leave orphan
    state that nothing else ever deletes, and a long-running ingest
    accumulates it forever.

    Orphan classes (each one provably unreferenced by any reader):

    * ``_temporary/`` and ``.spark-staging*`` directories — Spark
      committer scratch from jobs that died before commit; committed
      readers never look inside underscore/dot-prefixed paths.
    * ``_tmp_*`` directories — ``compact_parquet_dir`` staging whose
      rename never happened (the crash-before-rename window).
    * superseded ``compacted_*`` generations — a crash between
      ``compact_parquet_dir``'s rename-in and delete-old steps leaves
      BOTH generations visible (readers absorb the doubling via
      ``distinct()``); all but the newest ``retention_generations``
      generations per directory are dead weight.
    * empty partition directories (``col=value`` with no data file
      anywhere below) — left by crashed partition overwrites; they
      contribute nothing but file-listing latency. (A deliberately
      zero-row schema-pinning file does NOT match: it IS a data file.)

    Never touched: committed data files, ``meta``/``stats`` datasets,
    done-markers, ``_SUCCESS``/checksum files inside live directories
    — vacuum removes only whole orphan directories, so a concurrent
    READER of committed state is safe at any interleaving.

    Concurrent writers (r13): a deleting vacuum ACQUIRES the
    single-writer lease on ``root`` and refuses loudly
    (``ConcurrentWriterError``) if any descendant holds a fresh foreign
    lease — an in-flight append's ``_temporary`` task outputs are
    indistinguishable from a dead job's and would be reclaimed
    mid-commit, so a live writer anywhere under the root blocks the
    vacuum (and vice versa: the held root blocks new tier maintenance
    until the vacuum finishes). The ingest gates' ``auto_vacuum`` hook
    (``streaming.pipeline._IngestGate``'s compaction policy) runs inside
    the leased single-writer ``foreachBatch`` step after that epoch's
    compactions and before its adds, and takes the held work-dir lease
    reentrantly, so it composes without self-conflict.
    ``dry_run=True`` stays lock-free (pure listing).

    ``dry_run=True`` (default) only LISTS the reclaimable paths;
    ``dry_run=False`` deletes them and refreshes the path's cached
    file listing. Returns the orphan paths found (sorted). ``spark``
    may be None in dry-run or when no session-level cache needs
    refreshing (the listing itself is pure filesystem)."""
    import contextlib
    import os
    import shutil

    from actuarial_reserve_modelling_spark.sources.lease import (
        check_no_descendant_writers,
        writer_lease,
    )

    if not os.path.isdir(root):
        return []
    lock = writer_lease(root) if not dry_run else contextlib.nullcontext()
    with lock:
        if not dry_run:
            check_no_descendant_writers(root)
        return _vacuum_scan(spark, root, dry_run, retention_generations)


def _vacuum_scan(
    spark: SparkSession | None,
    root: str,
    dry_run: bool,
    retention_generations: int,
) -> list[str]:
    import os
    import shutil

    orphans: list[str] = []
    gen_parents: dict[str, list[str]] = {}
    for dirpath, dirnames, _filenames in os.walk(root):
        for d in list(dirnames):
            full = os.path.join(dirpath, d)
            if d == "_temporary" or d.startswith("_tmp_") or d.startswith(
                ".spark-staging"
            ):
                orphans.append(full)
                dirnames.remove(d)
            elif d.startswith("compacted_"):
                gen_parents.setdefault(dirpath, []).append(full)
    for parent, gens in gen_parents.items():
        if len(gens) > retention_generations:
            by_age = sorted(gens, key=lambda p: (os.path.getmtime(p), p))
            orphans.extend(by_age[: len(gens) - retention_generations])

    def _has_data_file(path: str) -> bool:
        # ANY non-hidden file counts as data (r12 ADVICE): a partition
        # directory holding non-parquet data files (ORC, text, a future
        # format) must never be reclaimed as an empty orphan.
        for dp, dns, fns in os.walk(path):
            dns[:] = [x for x in dns if not x.startswith(("_", "."))]
            if any(not f.startswith(("_", ".")) for f in fns):
                return True
        return False

    claimed = set(orphans)
    for dirpath, dirnames, _filenames in os.walk(root):
        if any(dirpath == c or dirpath.startswith(c + os.sep) for c in claimed):
            continue
        for d in dirnames:
            full = os.path.join(dirpath, d)
            if full in claimed or "=" not in d or d.startswith(("_", ".")):
                continue
            if not _has_data_file(full):
                orphans.append(full)
                claimed.add(full)
    orphans = sorted(set(orphans))
    if not dry_run:
        for p in orphans:
            shutil.rmtree(p, ignore_errors=True)
        if spark is not None:
            try:
                spark.catalog.refreshByPath(root)
            except Exception:
                pass  # root may not be a readable dataset itself
    return orphans
