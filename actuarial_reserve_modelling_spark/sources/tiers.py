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
  ids the dataset already holds (per (id, partition) on a lookup side,
  where an id's rows span partitions that land one file each), reading
  only the partitions the rows land in, so re-running a crashed append
  adds nothing twice and writes whatever did not land.
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
* **Driver-local writes stage, then rename.** On a local root the
  driver-resident paths (``Dataset.write_local``, the local body of
  ``Dataset.compact``, the ``stats/`` rewrite) write each file under a
  ``_tmp_<uuid>/`` directory of the dataset root, which every reader
  skips, then move it in with ``os.rename`` under the same writer lease,
  then refresh Spark's cached file listing of the root. A rename is
  atomic, so a reader sees a partition's new file whole or not at all; a
  crash leaves only the staging directory, which ``vacuum_index``
  lists as an orphan (``_tmp_*``), and the retried append anti-joins
  whatever did land, so the same crash states as a Spark write heal the
  same way. An append renames one partition at a time, lookup side
  first; a local compaction deletes a rewritten partition's old files,
  then renames its new one in, the window of Spark's dynamic
  overwrite. One staging directory serves a whole call, so a partition
  costs its file, its checksum and their renames, no directories.
* **Stats are advisory.** The row count only routes lookups between the
  pruned and full-scan paths, which answer identically. A missing or
  unreadable ``stats/`` reads as unknown (the pruned, scale-safe path);
  a crash before the stats rewrite leaves a count stale by one batch,
  which costs performance, never correctness. ``stats/`` is a dataset
  of its own, not a meta column, because meta must stay write-once: a
  torn meta bricks the tier, a torn count is merely unknown.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import struct
import time
import uuid
import zlib
from collections.abc import Callable
from dataclasses import dataclass
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pac
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pyspark
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


# xxHash64 primes, and the seed of Spark's ``xxhash64``
_XX_P1 = np.uint64(0x9E3779B185EBCA87)
_XX_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XX_P3 = np.uint64(0x165667B19E3779F9)
_XX_P4 = np.uint64(0x85EBCA77C2B2AE63)
_XX_P5 = np.uint64(0x27D4EB2F165667C5)
_SPARK_HASH_SEED = 42


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxhash64_longs(values: np.ndarray) -> np.ndarray:
    """Spark's ``xxhash64(bigint)`` (XXH64 of one long, seed 42) of each
    int64 in ``values``, in numpy: the driver-side twin of the id hash
    behind ``hash_part``."""
    v = np.asarray(values, dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        h = np.full(v.shape, _SPARK_HASH_SEED, dtype=np.uint64) + _XX_P5 + np.uint64(8)
        h ^= _rotl64(v * _XX_P2, 31) * _XX_P1
        h = _rotl64(h, 27) * _XX_P1 + _XX_P4
        h ^= h >> np.uint64(33)
        h *= _XX_P2
        h ^= h >> np.uint64(29)
        h *= _XX_P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


def hash_part_local(n: int, values: np.ndarray) -> np.ndarray:
    """``hash_part(n, col)`` of an int64 column held on the driver."""
    return (xxhash64_longs(values) % n).astype(np.int32)


def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _murmur_round(h: np.ndarray, k: np.ndarray) -> np.ndarray:
    k = _rotl32(k * np.uint32(0xCC9E2D51), 15) * np.uint32(0x1B873593)
    return _rotl32(h ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)


def spark_hash_longs(values: np.ndarray) -> np.ndarray:
    """Spark's ``hash(array<bigint>)`` of each row of the int64 matrix
    ``values``, in numpy: Murmur3_x86_32 of each long (low word, then
    high word, then the 8-byte finalizer), folded over the elements with
    seed 42 — the bucket of a MinHash band slice."""
    v = np.ascontiguousarray(values, dtype=np.int64).view(np.uint64)
    h = np.full(v.shape[0], _SPARK_HASH_SEED, dtype=np.uint32)
    with np.errstate(over="ignore"):
        for col in v.T:
            h = _murmur_round(h, (col & np.uint64(0xFFFFFFFF)).astype(np.uint32))
            h = _murmur_round(h, (col >> np.uint64(32)).astype(np.uint32))
            h ^= np.uint32(8)
            h ^= h >> np.uint32(16)
            h *= np.uint32(0x85EBCA6B)
            h ^= h >> np.uint32(13)
            h *= np.uint32(0xC2B2AE35)
            h ^= h >> np.uint32(16)
    return h.view(np.int32)


# --- driver-local parquet I/O ------------------------------------------------

# The largest partition (uncompressed bytes of its row groups, read from
# the footers) ``Dataset.compact`` rewrites on the driver; a larger one
# keeps the Spark rewrite, so the driver's memory per rewrite stays
# bounded. tools/local_compact_cost.py on a 4-core x86 box, 8 files per
# partition, uncompressed MB -> driver wall (+driver peak RSS) vs Spark's
# wall: a banded/-shaped lookup partition (cell-sorted ints) 14 MB 0.30 s
# (+84 MB) vs 4.4 s, 49 MB 1.08 s (+169 MB) vs 7.0 s, 91 MB 1.83 s
# (+337 MB) vs 10.5 s; a fingerprints/-shaped id partition (random long
# lists) 19 MB 0.12 s (+55 MB) vs 2.5 s, 68 MB 0.31 s (+206 MB) vs 3.9 s,
# 133 MB 0.61 s (+414 MB) vs 5.5 s. The driver body is faster at every
# size, so the bound is set by memory: ~3-3.7x the uncompressed bytes
# for both shapes, ~240 MB at this bound.
_LOCAL_COMPACT_MAX_BYTES = 64 << 20

_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_SPARK_VERSION = b"org.apache.spark.version"


def _data_bytes(files: list[str]) -> int:
    """The uncompressed bytes of ``files``' row groups, from their parquet
    footers (no data page is read)."""
    total = 0
    for f in files:
        md = pq.read_metadata(f)
        total += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    return total


def _local_dir(path: str) -> str | None:
    """``path`` on the local filesystem, or None for a remote root (the
    driver-local paths then keep their Spark bodies)."""
    p = urlparse(path)
    if p.scheme not in ("", "file"):
        return None
    return p.path if p.scheme == "file" else path


def _visible(d: str) -> list[os.DirEntry]:
    """The entries of ``d`` a Spark listing reads: ``_``/``.``-prefixed
    names (committer scratch, staging, checksums, markers) are skipped,
    and a missing directory is empty."""
    try:
        return [e for e in os.scandir(d) if not e.name.startswith(("_", "."))]
    except FileNotFoundError:
        return []


def _spark_schema(schema: pa.Schema) -> pa.Schema:
    """``schema`` carrying the row metadata a Spark write of the same
    columns puts in each file's footer, which Spark's schema inference
    reads back (types, nullability, field metadata)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    fields = [
        {
            "name": f.name,
            "type": f.dataType.jsonValue(),
            "nullable": f.nullable,
            "metadata": f.metadata,
        }
        for f in from_arrow_schema(schema).fields
    ]
    row = json.dumps({"type": "struct", "fields": fields}, separators=(",", ":"))
    return schema.with_metadata(
        {_ROW_METADATA: row.encode(), _SPARK_VERSION: pyspark.__version__.encode()}
    )


def _write_crc(file: str) -> None:
    """The ``.<name>.crc`` sidecar Hadoop's local filesystem writes next
    to ``file`` (CRC32 of each 512-byte chunk), so Spark's checksummed
    reader verifies a driver-written file like one of its own."""
    with open(file, "rb") as f:
        data = f.read()
    sums = b"".join(
        struct.pack(">I", zlib.crc32(data[i : i + 512]))
        for i in range(0, len(data), 512)
    )
    head, name = os.path.split(file)
    with open(os.path.join(head, f".{name}.crc"), "wb") as f:
        f.write(b"crc\x00" + struct.pack(">i", 512) + sums)


def _write_file(table: pa.Table, directory: str) -> str:
    """``table`` as one snappy parquet file, with its checksum, in
    ``directory`` under a Spark-style part name; returns the name."""
    name = f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"
    pq.write_table(table, os.path.join(directory, name), compression="snappy")
    _write_crc(os.path.join(directory, name))
    return name


def _rename_in(stage: str, name: str, directory: str) -> None:
    """Move the staged file ``name`` and its checksum into ``directory``,
    the checksum first: a visible data file always has its own."""
    for n in (f".{name}.crc", name):
        os.rename(os.path.join(stage, n), os.path.join(directory, n))


def _mark_success(root: str) -> None:
    """The empty ``_SUCCESS`` marker a Spark write job commits at its
    output root."""
    open(os.path.join(root, "_SUCCESS"), "wb").close()
    _write_crc(os.path.join(root, "_SUCCESS"))


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

    def _local_root(self, path: str) -> str:
        root = _local_dir(self.root(path))
        if root is None:
            raise ValueError(f"driver-local tier I/O needs a local root, got {path}")
        return root

    def _files(self, root: str, part: int) -> list[str]:
        return [e.path for e in _visible(f"{root}/{self.part_col}={part}") if e.is_file()]

    def _file_schema(self, root: str) -> pa.Schema | None:
        """The arrow schema, Spark footer included, of one data file of
        the dataset at local ``root``; None while it holds none."""
        for d in _visible(root):
            if d.is_dir() and d.name.startswith(self.part_col + "="):
                for f in _visible(d.path):
                    if f.is_file():
                        return pq.read_schema(f.path)
        return None

    def read_local(
        self,
        path: str,
        parts: list[int],
        filter: pads.Expression | None = None,
        columns: list[str] | None = None,
    ) -> pa.Table:
        """``read(spark, path, parts)`` on the driver through pyarrow, for
        a local root: only the ``parts`` directories are listed, their
        entries skipped as Spark skips them, and ``filter`` is pushed into
        the scan, so the row-group statistics of the lookup side's
        cell-sorted files skip whole groups. The partition column reads
        as an int, like Spark's inferred one. A dataset holding no file
        at all raises, as Spark's schema inference does."""
        root = self._local_root(path)
        files = [f for p in sorted({int(p) for p in parts}) for f in self._files(root, p)]
        schema = None
        if not files:
            schema = self._file_schema(root)
            if schema is None:
                raise FileNotFoundError(f"no parquet data file under {root}")
            schema = schema.append(pa.field(self.part_col, pa.int32()))
        rows = pads.dataset(
            files,
            schema=schema,
            format="parquet",
            partitioning=pads.partitioning(
                pa.schema([(self.part_col, pa.int32())]), flavor="hive"
            ),
            partition_base_dir=root,
        )
        return rows.to_table(columns=columns, filter=filter)

    def _pack_local(self, table: pa.Table) -> pa.Table:
        """``_packed`` on the driver: rows ordered by the partition column
        and, on a lookup side, the cell."""
        keys = [c for c in (self.part_col, *self.cell) if c in table.column_names]
        return table.sort_by([(c, "ascending") for c in keys]) if keys else table

    def write_local(self, spark: SparkSession, table: pa.Table, path: str) -> None:
        """``write(rows, path)`` (an append) from the driver, for a local
        root and a ``table`` that carries the partition column: one file
        per partition, packed as ``_packed`` packs it. The files take the
        schema and Spark footer of a file already in the dataset (or, in
        an empty one, the footer Spark derives for the table's columns),
        so Spark infers the same schema whichever file it reads. Each file
        is staged under ``_tmp_<uuid>/`` and renamed in (the module's
        crash contract), then the root's cached listing is refreshed. The
        caller holds the writer lease."""
        if table.num_rows == 0:
            return
        root = self._local_root(path)
        pc = self.part_col
        table = self._pack_local(table)
        parts = table.column(pc).to_numpy()
        data = table.drop_columns([pc])
        schema = self._file_schema(root)
        if schema is None:
            schema = _spark_schema(data.schema)
        data = data.select(schema.names).cast(schema)
        starts = np.flatnonzero(np.diff(parts, prepend=parts[0] - 1))
        ends = np.append(starts[1:], len(parts))
        # one flat staging directory per call: each partition costs a
        # file, its checksum and their renames, not a directory pair too
        stage = os.path.join(root, f"_tmp_{uuid.uuid4().hex}")
        os.makedirs(stage)
        staged = [
            (f"{pc}={int(parts[lo])}", _write_file(data.slice(lo, hi - lo), stage))
            for lo, hi in zip(starts.tolist(), ends.tolist())
        ]
        for rel, name in staged:
            os.makedirs(os.path.join(root, rel), exist_ok=True)
            _rename_in(stage, name, os.path.join(root, rel))
        os.rmdir(stage)
        _mark_success(root)
        spark.catalog.refreshByPath(root)

    def _compact_local(self, root: str, parts: list[int]) -> None:
        """Rewrite each of ``parts`` of the local ``root`` as one packed
        file, one partition at a time: staged in one ``_tmp_<uuid>/``
        directory, then the partition's old files (and checksums) are
        deleted and the staged file renamed in, the window of Spark's
        dynamic overwrite. The partition directory itself stays."""
        stage = os.path.join(root, f"_tmp_{uuid.uuid4().hex}")
        os.makedirs(stage)
        for part in parts:
            d = f"{root}/{self.part_col}={part}"
            files = self._files(root, part)
            schema = pq.read_schema(files[0])
            table = self._pack_local(
                pads.dataset(files, schema=schema, format="parquet").to_table()
            )
            name = _write_file(table.cast(schema), stage)
            for f in files:
                os.remove(f)
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(d, f".{os.path.basename(f)}.crc"))
            _rename_in(stage, name, d)
        os.rmdir(stage)

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
        idempotent-append check. On a lookup side an id's rows span
        several partitions, each landing with its own file, so the check
        is per (id, partition): a retry after a crash that landed only
        some of an id's partitions still writes the rest."""
        keys = [id_col, self.part_col] if self.cell else [id_col]
        existing = self.read(spark, path, parts).select(
            F.col(id_col).cast("long").alias(id_col),
            *[F.col(c).cast("int").alias(c) for c in keys[1:]],
        )
        if self.cell:
            existing = existing.distinct()
        return rows.join(existing, keys, "left_anti")

    def unindexed_local(self, path: str, rows: pa.Table, id_col: str) -> pa.Table:
        """``unindexed`` on the driver: ``rows`` (carrying the partition
        column) minus what the dataset holds in the rows' own partitions,
        per id (per (id, partition) on a lookup side)."""
        pc = self.part_col
        parts = pac.unique(rows.column(pc)).to_pylist()
        root = self._local_root(path)
        if not any(self._files(root, p) for p in parts):
            return rows
        ids = rows.column(id_col)
        held = self.read_local(
            path, parts, filter=pads.field(id_col).isin(ids), columns=[id_col, pc]
        )
        if not self.cell:
            return rows.filter(pac.invert(pac.is_in(ids, value_set=held.column(id_col))))
        landed = set(zip(held.column(id_col).to_pylist(), held.column(pc).to_pylist()))
        return rows.filter(
            pa.array(
                [k not in landed for k in zip(ids.to_pylist(), rows.column(pc).to_pylist())]
            )
        )

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
        compacted.

        On a local root each hot partition of at most
        ``_LOCAL_COMPACT_MAX_BYTES`` uncompressed is rewritten on the driver, one at a
        time (``_compact_local``: the same packing, no Spark job); larger
        ones keep the Spark rewrite."""
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
            rest = hot
            local = _local_dir(dataset)
            if hot and local is not None:
                small = [
                    p
                    for p in hot
                    if _data_bytes(self._files(local, p)) <= _LOCAL_COMPACT_MAX_BYTES
                ]
                rest = [p for p in hot if p not in small]
                if small:
                    self._compact_local(local, small)
                _mark_success(local)
                spark.catalog.refreshByPath(dataset)
            if rest:
                self._compact_spark(spark, dataset, rest)
            return len(hot)

    def _compact_spark(self, spark: SparkSession, dataset: str, parts: list[int]) -> None:
        """Rewrite ``parts`` of ``dataset`` packed, by dynamic overwrite."""
        rows = (
            spark.read.parquet(dataset)
            .filter(F.col(self.part_col).isin(parts))
            .localCheckpoint()
        )
        overwrite_partitions(self._packed(rows), dataset, [self.part_col])
        spark.catalog.refreshByPath(dataset)


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


def add_rows_local(
    spark: SparkSession,
    path: str,
    layout: Layout,
    rows: pa.Table,
    n_buckets: int,
    project: Callable[[pa.Table], pa.Table] | None,
) -> None:
    """``add_rows(..., check_existing=True)`` on the driver, for a local
    root and a driver-resident ``rows`` table (id-side columns, without
    the partition column): the same id-anti-joined appends, lookup side
    first, then the id side, then the stats bump, through
    ``unindexed_local`` and ``write_local`` — no Spark job. ``project``
    maps the id-side rows to lookup rows carrying the lookup partition
    column."""
    idc = layout.id_col
    rows = rows.append_column(
        layout.ids.part_col,
        pa.array(hash_part_local(n_buckets, rows.column(idc).to_numpy())),
    )
    rows = layout.ids.unindexed_local(path, rows, idc)
    if project is not None:
        look = layout.lookup.unindexed_local(path, project(rows), idc)
        layout.lookup.write_local(spark, look, path)
    layout.ids.write_local(spark, rows, path)
    n_before = read_index_stats(spark, path)
    if n_before is not None:
        _write_index_stats(spark, path, n_before + rows.num_rows)


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
    root = _local_dir(dataset)
    if root is None or not os.path.isdir(root):
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
    absent from an older layout converts None). On a local root a
    one-file ``meta/`` is read by pyarrow, without a Spark job
    (``_one_file_local``). Successful reads are cached per process. A
    genuinely absent ``meta/`` returns ``missing(e)`` — never cached, so
    a layout fallback is not pinned for the process lifetime — or
    propagates when ``missing`` is None; every other read failure
    propagates."""
    key = (path, "meta")
    if key not in _PIECE_CACHE:
        local = _one_file_local(path + "/meta")
        try:
            if local is None:
                row = spark.read.parquet(path + "/meta").first()
            else:
                row = (pq.read_table(local).slice(0, 1).to_pylist() or [None])[0]
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
        d = row if isinstance(row, dict) else row.asDict()
        _PIECE_CACHE[key] = {k: conv(d.get(k)) for k, conv in fields.items()}
    return dict(_PIECE_CACHE[key])


def _one_file_local(path: str) -> str | None:
    """The one data file of the parquet directory ``path`` on a local
    root, which the driver reads with pyarrow (no Spark job); None for a
    remote root, a missing directory or any other file count, which
    Spark's read (and its errors) then decide."""
    local = _local_dir(path)
    files = [e.path for e in _visible(local) if e.is_file()] if local else []
    return files[0] if len(files) == 1 else None


def write_local_dir(table: pa.Table, directory: str) -> None:
    """``table`` as the new parquet directory ``directory`` on a local
    root, laid out as a one-task Spark write leaves it: one file carrying
    the Spark footer (``_spark_schema``) and its checksum, then
    ``_SUCCESS``. It is staged in a ``_tmp_<uuid>`` sibling, which
    readers skip, and renamed in whole; ``directory`` must not exist."""
    parent = os.path.dirname(directory.rstrip("/"))
    stage = os.path.join(parent, f"_tmp_{uuid.uuid4().hex}")
    os.makedirs(stage)
    _write_file(table.cast(_spark_schema(table.schema)), stage)
    _mark_success(stage)
    os.rename(stage, directory)


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
# stats/ as Spark writes it from a bigint literal (not nullable)
_STATS_SCHEMA = _spark_schema(pa.schema([pa.field("n_rows", pa.int64(), nullable=False)]))


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
    local = _local_dir(path)
    try:
        if local is None:
            r = spark.read.parquet(path + "/stats").first()
            n = int(r["n_rows"]) if r is not None else None
        else:
            # pyarrow skips the _/.-prefixed entries, as Spark does
            col = pq.read_table(os.path.join(local, "stats")).column("n_rows")
            n = int(col[0].as_py()) if len(col) else None
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

    On a local root the one-row file is written by pyarrow on the driver
    (no Spark job: this runs once per ingest batch), with the footer,
    checksums and ``_SUCCESS`` marker of a Spark write. A remote root
    writes through ``spark.range`` + a literal, NOT ``createDataFrame``,
    whose Python-list path costs ~5 s per call in driver RPC/inference
    overhead.

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
    n_rows = int(max(0, n_rows))
    local = _local_dir(path)
    if local is None:
        spark.range(1).select(F.lit(n_rows).cast("bigint").alias("n_rows")).coalesce(
            1
        ).write.mode("overwrite").parquet(path + "/stats")
        _INDEX_STATS_CACHE.pop(path, None)
        return
    gen = uuid.uuid4().hex[:8]
    tmp = os.path.join(local, f"_tmp_stats_{gen}")
    os.makedirs(tmp)
    _write_file(pa.table([pa.array([n_rows], pa.int64())], schema=_STATS_SCHEMA), tmp)
    _mark_success(tmp)
    live = os.path.join(local, "stats")
    old = os.path.join(local, f"_tmp_statsold_{gen}")
    if os.path.exists(live):
        os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old, ignore_errors=True)
    spark.catalog.refreshByPath(path + "/stats")
    _INDEX_STATS_CACHE.pop(path, None)
