"""The persisted partitioned-dataset lifecycle every similarity tier shares.

A tier is a root directory of hive-partitioned parquet datasets plus two
one-row datasets: ``meta/`` (build parameters) and ``stats/`` (an
advisory row count). Each tier describes its datasets as ``Dataset``
values — the hierarchical ANN index ``members/``, the IVF-PQ index
``codes/``, the vector-signature tier ``sigs/`` + ``vectors/``, the
MinHash dedup tier ``banded/`` + ``fingerprints/`` and the ingest gates'
exact-fingerprint tier — and keeps only its signers, routers and kernels.
This module owns the rest: the pruned read, the idempotent append, the
delete engine, hot-partition compaction, meta and stats.

Crash contract (the tiers are mutated under the writer lease of
``sources/lease.py``; a crashed mutation is healed by re-running it, the
same retry-until-success contract as every resumable sink):

* **Appends are idempotent.** An append anti-joins its rows against the
  ids the dataset already holds, reading only the partitions the rows
  land in, so re-running a crashed append adds nothing twice.
* **Deletes converge on re-run.** A delete drops the touched partitions
  that lose every row, then dynamic-overwrites the survivors of the
  others (``overwrite_partitions``); untouched partitions keep their
  files byte-identical. The two steps are not atomic, but a re-run
  recomputes the touched list from whatever state remains and redoes
  only the outstanding step. Emptied directories go FIRST, so the worst
  mid-crash state is deleted ids still visible until the retry
  (staleness), never emptied partitions resurrected (wrong data with no
  signal). A delete that empties a whole dataset leaves one zero-row
  file, so readers still infer its schema.
* **Lookup side first.** A two-dataset tier (``Layout``: an id side
  partitioned by ``pmod(xxhash64(id), n_buckets)`` and a lookup side
  partitioned by signature cell) appends to the lookup side first and
  rewrites it first on delete. A crash mid-add leaves orphan lookup rows,
  which the verify join against the id side drops; a crash mid-delete
  hides the doomed ids from lookups early. Neither leaves an indexed id
  invisible to lookups, and a retry recomputes the doomed set from the
  still-intact id side.
* **Stats, then meta last.** ``persist_*`` writes the data, then
  ``stats/``, then ``meta/``: meta is the commit marker every reader
  requires, written once per persist and never by add or delete, so
  its presence means a complete tier. Add and delete rewrite ``stats/``
  after the data.
* **Stats are advisory.** The row count only routes lookups between the
  pruned and full-scan paths, which answer identically. A missing or
  unreadable ``stats/`` reads as unknown (the pruned, scale-safe path);
  a crash before the stats rewrite leaves a count stale by one batch,
  which costs performance, never correctness. ``stats/`` is a dataset
  of its own, not a meta column, because meta must stay write-once: a
  torn meta bricks the tier, a torn count is merely unknown.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from actuarial_reserve_modelling_spark.sources.lease import writer_lease
from actuarial_reserve_modelling_spark.sources.sinks import overwrite_partitions


def _is_path_missing(e: AnalysisException) -> bool:
    """True only for the path-does-not-exist AnalysisException — the one
    failure that legitimately means "this optional dataset was never
    written". Everything else (permissions, corrupt footer, transient
    storage) must propagate, never be treated as absence."""
    cond = None
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(e, attr, None)
        if fn is not None:
            try:
                cond = fn()
            except Exception:
                cond = None
            if cond:
                break
    if cond:
        return "PATH_NOT_FOUND" in cond
    return "Path does not exist" in str(e)


def hash_part(n: int, *cols: str) -> Column:
    """``pmod(xxhash64(cols), n)`` as an int: the partition key of every
    hash-partitioned dataset. Any batch computes its own directory set
    from its rows alone, which is what partition pruning needs."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n)).cast("int")


@dataclass(frozen=True)
class Dataset:
    """One hive-partitioned dataset of a tier: its directory under the
    tier root (``""`` when the tier root is the dataset), its partition
    column, and — on a lookup side — the signature-cell columns. A lookup
    side holds one row per (id, cell), so an id may repeat in it; its
    files are sorted by the cell, and every member of a cell lives in
    one partition. An id side (``cell=()``) holds each id once."""

    name: str
    part_col: str
    cell: tuple[str, ...] = ()

    def root(self, path: str) -> str:
        return f"{path}/{self.name}" if self.name else path

    def read(
        self, spark: SparkSession, path: str, parts: list[int] | None = None
    ) -> DataFrame:
        """The dataset, restricted to ``parts`` when given — a plain
        ``IN`` on the partition column, so Catalyst prunes at
        file-listing time (PartitionFilters, zero files outside the
        set)."""
        rows = spark.read.parquet(self.root(path))
        if parts is None:
            return rows
        if not parts:
            return rows.limit(0)
        return rows.filter(F.col(self.part_col).isin(sorted({int(p) for p in parts})))

    def read_guarded(
        self, spark: SparkSession, path: str, parts: list[int], max_cell_size: int
    ) -> DataFrame:
        """The lookup side pruned to ``parts``, minus its degenerate cells
        (more than ``max_cell_size`` members: the skew guard). A cell
        never spans partitions, so sizes over the pruned read are the
        true sizes."""
        rows = self.read(spark, path, parts)
        sizes = rows.groupBy(*self.cell).agg(F.count(F.lit(1)).alias("_n"))
        return (
            rows.join(sizes, list(self.cell))
            .filter(F.col("_n") <= max_cell_size)
            .drop("_n")
        )

    def parts_of(self, frame: DataFrame) -> list[int]:
        """The distinct partition values of ``frame`` — one driver
        collect, bounded by the dataset's partition count."""
        return [
            int(r[self.part_col])
            for r in frame.select(self.part_col).distinct().collect()
        ]

    def _packed(self, rows: DataFrame) -> DataFrame:
        # few large files per directory, not one file per task per
        # partition; the lookup side keeps its in-file sort so row-group
        # stats still skip. The sort leads with the partition column: a
        # partitioned write sorts each task by it, and a task ordered by
        # the cell alone loses that order to the writer's sort
        rows = rows.repartition(F.col(self.part_col))
        if not self.cell:
            return rows
        return rows.sortWithinPartitions(self.part_col, *self.cell)

    def write(self, rows: DataFrame, path: str, mode: str = "append") -> None:
        self._packed(rows).write.mode(mode).partitionBy(self.part_col).parquet(
            self.root(path)
        )

    def unindexed(
        self,
        spark: SparkSession,
        path: str,
        rows: DataFrame,
        id_col: str,
        parts: list[int],
    ) -> DataFrame:
        """``rows`` minus the ids this dataset already holds, reading only
        ``parts`` (which must cover the rows' own partitions) — the
        idempotent-append check."""
        existing = self.read(spark, path, parts).select(
            F.col(id_col).cast("long").alias(id_col)
        )
        if self.cell:
            existing = existing.distinct()
        return rows.join(existing, id_col, "left_anti")

    def delete(
        self,
        spark: SparkSession,
        path: str,
        ids: DataFrame,
        id_col: str,
        touched: list[int] | None = None,
    ) -> None:
        """Delete engine: anti-join the ``touched`` partitions against the
        delete-set and rewrite only those (see the module crash
        contract). ``touched=None`` finds them with one semi-join over the
        dataset; all non-partition columns survive the rewrite."""
        dataset = self.root(path)
        pc = self.part_col
        del_ids = ids.select(F.col(id_col).cast("long").alias(id_col)).distinct()
        if touched is None:
            touched = self.parts_of(
                self.read(spark, path).join(del_ids, id_col, "left_semi")
            )
        if not touched:
            return
        touched = sorted({int(p) for p in touched})
        # survivors read the very files the mutations below replace —
        # materialize them OFF those files first (eager localCheckpoint),
        # or the write's commit would invalidate its own input listing
        survivors = (
            self.read(spark, path, touched)
            .join(del_ids, id_col, "left_anti")
            .localCheckpoint()
        )
        kept = set(self.parts_of(survivors))
        # a partition whose rows were ALL deleted is absent from the
        # survivors frame, so dynamic overwrite would leave its old files
        # in place — drop those directories explicitly, BEFORE the
        # overwrite; paths constructed under the dataset root only
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        for part in set(touched) - kept:
            hp = jvm.org.apache.hadoop.fs.Path(f"{dataset}/{pc}={part}")
            hp.getFileSystem(hconf).delete(hp, True)
        if kept:
            overwrite_partitions(self._packed(survivors), dataset, [pc])
        else:
            # a root with zero parquet files fails schema inference in
            # every later read: if no partition directory survived
            # anywhere, pin the schema with one zero-row file
            root = jvm.org.apache.hadoop.fs.Path(dataset)
            fs = root.getFileSystem(hconf)
            remaining = [
                st.getPath().getName()
                for st in fs.listStatus(root)
                if st.isDirectory() and st.getPath().getName().startswith(pc + "=")
            ]
            if not remaining:
                survivors.drop(pc).limit(0).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(f"{dataset}/{pc}={touched[0]}")
        # evict the pre-delete file listing from the shared status cache so
        # readers in this session see the rewritten layout
        spark.catalog.refreshByPath(dataset)

    def compact(
        self, spark: SparkSession, path: str, max_files_per_partition: int
    ) -> int:
        """OPTIMIZE for the persisted tiers: every append adds at least
        one file per touched partition, so a long-running ingest accretes
        files forever — the #1 operational failure of append-heavy
        layouts at 100 TB. This rewrites ONLY the partitions whose file
        count exceeds ``max_files_per_partition`` via the same
        dynamic-partition-overwrite primitive the deletes use, so cold
        partitions keep their files byte-identical and the rewrite cost
        scales with the hot fraction, not the index. A rewritten
        partition is packed like a write, so a lookup side keeps its
        in-file cell sort. Contents are preserved exactly; a crash
        mid-overwrite re-heals on re-run (the partition either kept its
        old files or has the new single file). Runs under the writer
        lease of the dataset root; returns the number of partitions
        compacted."""
        dataset = self.root(path)
        pc = self.part_col
        with writer_lease(dataset):
            hot = _hot_partitions_local(dataset, pc, max_files_per_partition)
            if hot is None:
                # non-local root: fall back to the Spark metadata aggregate
                hot = [
                    int(r[pc])
                    for r in spark.read.parquet(dataset)
                    .select(pc, F.col("_metadata.file_path").alias("f"))
                    .groupBy(pc)
                    .agg(F.count_distinct("f").alias("nf"))
                    .filter(F.col("nf") > max_files_per_partition)
                    .collect()
                ]
            if not hot:
                return 0
            rows = (
                spark.read.parquet(dataset).filter(F.col(pc).isin(hot)).localCheckpoint()
            )
            overwrite_partitions(self._packed(rows), dataset, [pc])
            spark.catalog.refreshByPath(dataset)
            return len(hot)


@dataclass(frozen=True)
class Layout:
    """A two-dataset tier: the id side (``pmod(xxhash64(id_col),
    n_buckets)`` partitions — the verify and delete side) and the lookup
    side (signature-cell partitions, sorted within files). ``add_rows``
    and ``delete_rows`` take the tier's ``project`` function, mapping
    id-side rows to lookup rows that carry the lookup partition column;
    ``project=None`` marks a legacy tier without a lookup side."""

    id_col: str
    ids: Dataset
    lookup: Dataset


Projection = Callable[[DataFrame], DataFrame] | None


def auto_parts(
    n_rows: int, n_buckets: int | None, k_parts: int | None
) -> tuple[int, int]:
    """Directory counts of a two-dataset tier, sized with the corpus so
    per-directory bytes stay constant and a fixed batch's touched
    fraction shrinks as the corpus grows: ~500 rows per id-hash bucket
    and ~1000 ids per lookup partition (sized per id, not per lookup
    row: per-row sizing gave 24× more directories of ~7 KB each, and
    file listing then dominated the pruned read), clamped to
    [16, 65536] / [8, 32768]. Explicit counts pass through."""
    if n_buckets is None:
        n_buckets = max(16, min(65536, n_rows // 500))
    if k_parts is None:
        k_parts = max(8, min(32768, n_rows // 1000))
    return n_buckets, k_parts


def _prune_lists(
    layout: Layout, rows: DataFrame, n_buckets: int, project: Projection
) -> tuple[list[int], list[int]]:
    """(id-side parts, lookup-side parts) of ``rows`` from ONE aggregate
    over their projection: every lookup row carries its id, so its id
    hash gives the id-side part as well."""
    side = rows if project is None else project(rows)
    aggs = [F.collect_set(hash_part(n_buckets, layout.id_col)).alias("p")]
    if project is not None:
        aggs.append(F.collect_set(layout.lookup.part_col).alias("l"))
    lists = side.agg(*aggs).first()
    look = [] if project is None else [int(x) for x in lists["l"]]
    return [int(x) for x in lists["p"]], look


def add_rows(
    spark: SparkSession,
    path: str,
    layout: Layout,
    rows: DataFrame,
    n_buckets: int,
    project: Projection,
    check_existing: bool,
) -> None:
    """Append id-side ``rows`` (without their partition column) and their
    projected lookup rows, lookup side first; with ``check_existing``
    each side drops the ids it already holds, reading only the rows' own
    partitions (supersets there read a few more directories, never miss
    a row the anti-join needs). Stats are bumped after the data."""
    idc = layout.id_col
    rows = rows.withColumn(layout.ids.part_col, hash_part(n_buckets, idc))
    if check_existing:
        parts, lparts = _prune_lists(layout, rows, n_buckets, project)
        rows = layout.ids.unindexed(spark, path, rows, idc, parts)
    # the surviving rows feed both appends and the stats count
    rows = rows.localCheckpoint(eager=False)
    if project is not None:
        look = project(rows)
        if check_existing:
            look = layout.lookup.unindexed(spark, path, look, idc, lparts)
        layout.lookup.write(look, path)
    layout.ids.write(rows, path)
    n_before = read_index_stats(spark, path)
    if n_before is not None:
        _write_index_stats(spark, path, n_before + rows.count())


def delete_rows(
    spark: SparkSession,
    path: str,
    layout: Layout,
    ids: DataFrame,
    id_col: str,
    n_buckets: int,
    project: Projection,
) -> None:
    """Delete ``ids`` from both sides, lookup side first. The doomed rows
    are read from the id side pruned to the deleted ids' buckets, and
    their projection yields both touched lists, so the cost is the doomed
    rows' partition footprint, never an index scan."""
    idc = layout.id_col
    del_ids = ids.select(F.col(id_col).cast("long").alias(idc)).distinct()
    parts = layout.ids.parts_of(
        del_ids.select(hash_part(n_buckets, idc).alias(layout.ids.part_col))
    )
    doomed = layout.ids.read(spark, path, parts).join(del_ids, idc, "left_semi")
    n_before = read_index_stats(spark, path)
    if n_before is not None:
        # counted BEFORE the rewrites below mutate the id side (doomed
        # derives from it)
        doomed = doomed.localCheckpoint(eager=False)
        n_doomed = doomed.count()
    touched, ltouched = _prune_lists(layout, doomed, n_buckets, project)
    if project is not None:
        layout.lookup.delete(spark, path, del_ids, idc, ltouched)
    layout.ids.delete(spark, path, del_ids, idc, touched)
    if n_before is not None:
        _write_index_stats(spark, path, n_before - n_doomed)


def _hot_partitions_local(dataset: str, part_col: str, cap: int) -> list[int] | None:
    """Hot-partition detection by plain driver-side ``os.scandir`` —
    returns the partition values whose data-file count exceeds ``cap``,
    or None for non-local roots (caller falls back to the Spark
    metadata aggregate). The gates run the threshold compact EVERY
    batch, and a Spark aggregate pays a full file-listing job per call
    — O(index directories) per batch, the growth term the
    per-batch-bounded contract forbids. A scandir walk costs the same
    order of syscalls WITHOUT the JVM job, plan, and listing-cache churn
    (~1 s/batch measured in the t11 gate), and when nothing is hot — the
    steady state — the whole check stays on the driver."""
    p = urlparse(dataset)
    if p.scheme not in ("", "file"):
        return None
    root = p.path if p.scheme == "file" else dataset
    if not os.path.isdir(root):
        return None
    prefix = part_col + "="
    hot: list[int] = []
    for e in os.scandir(root):
        if not (e.is_dir() and e.name.startswith(prefix)):
            continue
        try:
            v = int(e.name[len(prefix):])
            files = list(os.scandir(e.path))
        except (ValueError, OSError):
            continue
        n = sum(
            1
            for f in files
            if f.is_file()
            and f.name.endswith(".parquet")
            and not f.name.startswith(("_", "."))
        )
        if n > cap:
            hot.append(v)
    return hot


# ---------------------------------------------------------------------------
# Meta and the other driver-resident pieces. They are IMMUTABLE once
# written (persist_* overwrites them; add/delete never touch them), so a
# per-process cache is safe and saves 2-3 driver-side Spark jobs per query
# batch — the fixed cost that dominates small-batch latency. write_meta
# evicts its own path; cross-process rebuilds can't be cached stale because
# the cache is per process.
# ---------------------------------------------------------------------------

_PIECE_CACHE: dict[tuple[str, str], object] = {}


def _evict_index_cache(path: str) -> None:
    for key in [k for k in _PIECE_CACHE if k[0] == path]:
        del _PIECE_CACHE[key]


def cached_piece(path: str, piece: str, load: Callable[[], object]) -> object:
    """``load()`` once per (tier path, piece) per process."""
    key = (path, piece)
    if key not in _PIECE_CACHE:
        _PIECE_CACHE[key] = load()
    return _PIECE_CACHE[key]


def read_meta(
    spark: SparkSession,
    path: str,
    persist_fn: str,
    fields: dict[str, Callable],
    missing: Callable[[AnalysisException], dict] | None = None,
) -> dict:
    """The tier's ``meta/`` row as ``{field: convert(value)}`` (a column
    absent from an older layout converts None). Successful reads are
    cached per process. A genuinely absent ``meta/`` returns
    ``missing(e)`` — never cached, so a layout fallback is not pinned for
    the process lifetime — or propagates when ``missing`` is None; every
    other read failure propagates."""
    key = (path, "meta")
    if key not in _PIECE_CACHE:
        try:
            row = spark.read.parquet(path + "/meta").first()
        except AnalysisException as e:
            if missing is None or not _is_path_missing(e):
                raise
            return missing(e)
        if row is None:
            kind = persist_fn.removeprefix("persist_").replace("_", " ")
            raise ValueError(
                f"{kind} meta at {path}/meta exists but holds no rows — "
                f"the index is corrupt; rebuild with {persist_fn}"
            )
        d = row.asDict()
        _PIECE_CACHE[key] = {k: conv(d.get(k)) for k, conv in fields.items()}
    return dict(_PIECE_CACHE[key])


def _one_row_meta(spark: SparkSession, **cols) -> DataFrame:
    """One-row metadata frame from literals via ``spark.range(1)`` —
    the createDataFrame Python-list path costs ~5 s per call in driver
    overhead; this is ~0.3 s. Values: int → int column, bool → boolean,
    float → double. Ints outside int32 raise loudly — a non-ANSI cast
    would WRAP silently and persist corrupted meta (e.g. a wrapped seed
    signs every later batch wrong, so duplicate lookups quietly return
    empty forever)."""
    sels = []
    for name, v in cols.items():
        if isinstance(v, bool):
            sels.append(F.lit(v).alias(name))
        elif isinstance(v, int):
            if not -(2**31) <= v < 2**31:
                raise ValueError(
                    f"meta field {name}={v} does not fit int32 — refusing "
                    "to persist a silently wrapped value"
                )
            sels.append(F.lit(int(v)).cast("int").alias(name))
        else:
            sels.append(F.lit(v).alias(name))
    return spark.range(1).select(*sels)


def write_meta(spark: SparkSession, path: str, **fields) -> None:
    """Write the tier's commit marker — LAST in every persist — and evict
    the path's cached pieces."""
    _one_row_meta(spark, **fields).coalesce(1).write.mode("overwrite").parquet(
        path + "/meta"
    )
    _evict_index_cache(path)


# ---------------------------------------------------------------------------
# Advisory corpus-size stats: one bigint, maintained incrementally by
# persist/add/delete, consumed by the adaptive pruned-vs-full routing of
# the against-index lookups and by the recall-curve staleness check.
# ---------------------------------------------------------------------------


def route_pruned(
    spark: SparkSession, path: str, route: str, crossover: Callable[[], int]
) -> bool:
    """Whether a lookup takes the pruned path: ``"pruned"``/``"full"``
    force a side; ``"auto"`` goes pruned unless the advisory row count
    is known and below ``crossover()`` (the batch's footprint times the
    tier's measured crossover factor, evaluated only when the count is
    known). Unknown stats route pruned — the scale-safe side."""
    if route != "auto":
        return route == "pruned"
    n_index = read_index_stats(spark, path)
    return n_index is None or n_index >= crossover()

_INDEX_STATS_CACHE: dict[str, tuple[float | None, int, float]] = {}


def _stats_mtime(path: str) -> float | None:
    """Newest mtime under stats/ for cache invalidation, or None when
    the path isn't a stat-able local filesystem (remote FS: the cache
    then only invalidates on same-process writes — cross-process
    staleness there is bounded advisory drift, performance-only)."""
    try:
        root = path + "/stats"
        return max(
            (e.stat().st_mtime for e in os.scandir(root) if e.is_file()),
            default=os.stat(root).st_mtime,
        )
    except OSError:
        return None


def read_index_stats(spark: SparkSession, path: str) -> int | None:
    """The tier's advisory corpus row count, or None when stats/ is
    absent or unreadable (crash mid-rewrite). Cached per process, keyed
    by the stats files' mtime where the path is locally stat-able — so a
    DIFFERENT process's add/delete (which rewrites stats/) invalidates
    this process's cache on the next read instead of routing on an
    arbitrarily stale count forever. ``_write_index_stats`` additionally
    evicts on same-process updates.

    Non-stat-able roots (remote FS, mtime None) additionally carry a
    60 s TTL: cross-process adds there can't bump an observable mtime,
    so without the TTL this process would route on a frozen count for
    its whole lifetime; with it, staleness is bounded by one TTL — still
    advisory drift, never a correctness input."""
    mt = _stats_mtime(path)
    hit = _INDEX_STATS_CACHE.get(path)
    if hit is not None and hit[0] == mt:
        if mt is not None or (time.monotonic() - hit[2]) <= 60.0:
            return hit[1]
    try:
        r = spark.read.parquet(path + "/stats").first()
        n = int(r["n_rows"]) if r is not None else None
    except Exception:
        return None
    if n is not None:
        _INDEX_STATS_CACHE[path] = (mt, n, time.monotonic())
    return n


def _write_index_stats(spark: SparkSession, path: str, n_rows: int) -> None:
    """Overwrite the advisory row count (one tiny single-file dataset)
    and evict the per-process cache. Written AFTER the data-bearing
    datasets in every maintenance path, so a crash before this line
    leaves a stale count — on the ADD paths an undercount (biases
    routing toward the full scan), on the DELETE paths an overcount
    that a retried delete does not re-decrement (the doomed set is
    already gone, so it biases toward pruned — the scale-safe side;
    answers are unaffected either way, and the next persist resets the
    count exactly).

    Built from ``spark.range`` + a literal, NOT ``createDataFrame``:
    this runs once per ingest batch, and the Python-list path costs
    ~5 s per call in driver RPC/inference overhead versus ~0.3 s for
    the JVM-literal plan.

    Atomic swap: the rewrite lands in a ``_tmp_stats_*`` staging
    directory, then two renames swap it in (move old aside → move new
    in) — local-FS renames are atomic, so a reader never sees a TORN
    stats dataset mid-rewrite; in the instant between the renames it
    sees no ``stats/`` at all, which every consumer already treats as
    "unknown → pruned path" (the safe side). ``mode('overwrite')`` on
    the live directory, by contrast, deletes then writes — a reader in
    that window got a half-written parquet dir. Crash leftovers
    (``_tmp_stats_*``) match ``vacuum_index``'s ``_tmp_`` orphan class.
    Non-local roots (no ``os.rename``) keep the direct overwrite: a
    torn read there degrades to "unknown", never a wrong answer.
    Multi-writer interleaving of the read-modify-write COUNT itself is
    excluded by the tier lease every caller of this function holds
    (sources/lease.py)."""
    frame = spark.range(1).select(
        F.lit(int(max(0, n_rows))).cast("bigint").alias("n_rows")
    ).coalesce(1)
    parsed = urlparse(path)
    if parsed.scheme not in ("", "file"):
        frame.write.mode("overwrite").parquet(path + "/stats")
        _INDEX_STATS_CACHE.pop(path, None)
        return
    local = parsed.path if parsed.scheme == "file" else path
    gen = uuid.uuid4().hex[:8]
    tmp = os.path.join(local, f"_tmp_stats_{gen}")
    frame.write.mode("overwrite").parquet(tmp)
    live = os.path.join(local, "stats")
    old = os.path.join(local, f"_tmp_statsold_{gen}")
    if os.path.exists(live):
        os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old, ignore_errors=True)
    spark.catalog.refreshByPath(path + "/stats")
    _INDEX_STATS_CACHE.pop(path, None)
