"""Structured Streaming building blocks (SURVEY §2.9).

The reference's "streaming" is control-plane only: an EventBridge rule
fires a Lambda when a Batch job succeeds (stack.py:382-393). The
data-plane analogue is a file-arrival source: new files under a path
trigger incremental processing (T1), with windowed/sessionized/
deduplicated stateful operators downstream (T2-T6).

Execution model notes for scale: every query here is incremental —
state lives in the state store keyed by (group keys, window), watermarks
bound state size, and ``Trigger.AvailableNow`` gives batch-equivalent
replay semantics (used by the oracle checks: streaming result ==
the batch/SQL answer over the same files).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
import uuid
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from actuarial_reserve_modelling_spark.catalog import load_table
from actuarial_reserve_modelling_spark.sources.sinks import vacuum_index
from actuarial_reserve_modelling_spark.sources.tiers import Dataset, hash_part


# The most rows one micro-batch of ``incremental_neardup_ingest`` may
# hold: the gate collects each batch to the driver and runs its
# within-batch near-dup tier there, whose cost is quadratic in the reps
# that share LSH buckets. Measured on one core (4-core x86 box) by
# tools/neardup_local_cost.py at 16x16 bands: the worst 2,000-row batch,
# every pair sharing buckets and verifying, took 4.0 s and +480 MB of
# driver RSS (none verifying: 2.1 s, +300 MB); 2,500 rows took 7.9 s and
# +750 MB, 3,000 rows 11.8 s and +1.1 GB. A registry-corpus batch of
# 1,667 rows (sf0.1 split in 3) took 0.17 s and +29 MB. The bound keeps
# the worst case near 4 s and 0.5 GB.
_NEARDUP_MAX_ROWS = 2_000
# its driver-resident frames: first-wins rows and admitted docs
_FP_ROWS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fingerprint", T.StringType()),
        T.StructField("fpart", T.IntegerType()),
    ]
)
_DOC_ROWS = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)

# Staged source dirs, keyed by (sf_dir, n_files): T1-T4 all stream the
# same staged layout, so the repartition+write happens once per process,
# not once per query.
_STAGED_SOURCES: dict[tuple[str, int], str] = {}


def _committed_parquet(path: str) -> bool:
    """True iff ``path`` holds at least one COMMITTED parquet data file.

    The ingest gates' retry-convergence contract needs "index exists"
    to mean "a committed write landed", not "the directory was created":
    a first append that died mid-job leaves the dir with only
    ``_temporary/`` (or nothing), and a bare ``os.path.exists`` would
    then route every later batch into ``spark.read.parquet`` on a
    file-less directory — a permanent unable-to-infer-schema failure
    instead of re-healing. Hidden/_-prefixed entries (``_temporary``,
    ``_SUCCESS``, ``.crc``) are skipped exactly as Spark's own file
    listing does."""
    if not os.path.isdir(path):
        return False
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                return True
    return False


def _run_overlapped(
    labeled_fns: list[tuple[str, Callable[[], None]]],
    marks: list[tuple[str, float]] | None,
) -> None:
    """Run independent driver-side actions concurrently (guide §2.6:
    Spark's scheduler happily runs several jobs at once; actions are
    sequential only because driver code calls them sequentially —
    submitting independent ones from threads lets the next job's tasks
    back-fill executors freed by the current job's straggler tail).

    Callers own the independence argument: the actions must not read
    anything the other one writes. ``pyspark.InheritableThread``
    propagates the JVM thread-local properties (job group/description)
    and cleans up pinned threads. Every function runs to completion;
    the first exception (by list order) is re-raised after all threads
    join — with any OTHER thread's failure attached as an exception
    note so a dual-failure batch does not hide a root cause — and the
    caller's retry semantics are unchanged.
    Per-action walls are appended to ``marks`` when timing is on."""
    from pyspark import InheritableThread

    errs: dict[str, BaseException] = {}

    def _wrap(label: str, fn: Callable[[], None]) -> Callable[[], None]:
        def run() -> None:
            t0 = time.time()
            try:
                fn()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errs[label] = e
            finally:
                if marks is not None:
                    marks.append((label, round(time.time() - t0, 2)))

        return run

    threads = [
        InheritableThread(target=_wrap(label, fn), name=f"arm-overlap-{label}")
        for label, fn in labeled_fns
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for label, _fn in labeled_fns:
        if label in errs:
            first = errs.pop(label)
            for lbl, e in errs.items():
                first.add_note(
                    f"concurrent overlapped action {lbl!r} also failed: "
                    f"{type(e).__name__}: {e}"
                )
            raise first


def events_stream_source(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> tuple[DataFrame, str]:
    """Materialize `events` as a multi-file parquet directory and open it
    as a file-arrival stream (T1). Each file plays the role of one
    "arrived partition" — the direct analogue of the reference's
    S3-object-landed → EventBridge → Lambda hop."""
    batch = load_table(spark, sf_dir, "events")
    key = (sf_dir, n_files)
    src_dir = _STAGED_SOURCES.get(key)
    if src_dir is None:
        src_dir = tempfile.mkdtemp(prefix="arm_stream_src_")
        atexit.register(shutil.rmtree, src_dir, ignore_errors=True)
        batch.repartition(n_files).write.mode("overwrite").parquet(src_dir)
        _STAGED_SOURCES[key] = src_dir
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    return stream, src_dir


def _path_safe(key: str) -> str:
    return "".join(c if c.isalnum() else "_" for c in key)


def staged_ordered_source(
    spark: SparkSession, frames: list[DataFrame], cache_key: str
) -> DataFrame:
    """Stage each frame as ONE parquet file in a fresh directory and open
    it as a file stream that processes exactly one file per micro-batch,
    in list order. FileStreamSource orders pending files oldest-first by
    modification time (ties by path), so each staged file gets an
    explicit mtime ``i`` minutes apart AND a zero-padded name — the
    micro-batch sequence is then deterministic, which is what makes
    watermark semantics (T5/T6) batch-replayable and oracle-checkable.
    """
    import glob

    safe = _path_safe(cache_key)
    src_dir = _STAGED_SOURCES.get((cache_key, len(frames)))
    if src_dir is None:
        src_dir = tempfile.mkdtemp(prefix=f"arm_stream_{safe}_")
        atexit.register(shutil.rmtree, src_dir, ignore_errors=True)
        base = 1_600_000_000  # any fixed epoch; only relative order matters
        for i, frame in enumerate(frames):
            tmp = f"{src_dir}/_stage_{i}"
            frame.coalesce(1).write.mode("overwrite").parquet(tmp)
            (part,) = glob.glob(f"{tmp}/part-*.parquet")
            dst = f"{src_dir}/{i:04d}.parquet"
            shutil.move(part, dst)
            shutil.rmtree(tmp)
            os.utime(dst, (base + 60 * i, base + 60 * i))
        _STAGED_SOURCES[(cache_key, len(frames))] = src_dir
    return (
        spark.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def run_to_table(
    stream_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int = 8,
) -> DataFrame:
    """Run a streaming frame to completion (AvailableNow) into a memory
    sink and return the result as a batch DataFrame. AvailableNow drains
    everything currently in the source then stops — which is exactly the
    batch-equivalence contract the oracle compares against.

    ``state_partitions`` pins the stream's shuffle/state-partition count
    for the drain (a streaming query snapshots the session value at
    start). Stateful micro-batches pay per-partition state-store
    checkpoint I/O every trigger, so a local drain over small state wants
    few partitions; a production deployment sizes this to key cardinality
    and leaves it — it's frozen into the checkpoint."""
    spark = stream_df.sparkSession
    name = f"arm_mem_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="arm_stream_ckpt_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    _drain(
        spark,
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode),
        ckpt,
        state_partitions,
    )
    return spark.table(name)


def _drain(spark: SparkSession, writer, ckpt: str, state_partitions: int) -> None:
    """Start ``writer`` as an AvailableNow query checkpointed at ``ckpt``
    and wait until it has drained the source. ``state_partitions`` pins
    the query's shuffle/state-partition count. StreamExecution clones
    the session (and its SQLConf) when the query STARTS, so the
    session-global override only spans the ``.start()`` call; concurrent
    batch work during the drain sees the restored value. (A query
    started from another thread during that sliver would still catch
    the override; drains are single-threaded here.)"""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()


def tumbling_counts(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """T2: tumbling event-time window counts per event_type."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )


def sliding_counts(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """T3: sliding windows — each event lands in width/slide windows."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )


def session_counts(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """T4: per-user session windows (gap-merged; end = last event + gap)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "user_id",
            "n",
        )
    )


def watermarked_tumbling(
    events: DataFrame, width: str = "10 minutes", late: str = "10 minutes"
) -> DataFrame:
    """T5: watermark + append-mode tumbling counts; events later than the
    watermark are dropped, finalized windows are emitted exactly once."""
    return (
        events.withWatermark("ts", late)
        .groupBy(F.window("ts", width).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )


def stateful_user_counters(events: DataFrame) -> DataFrame:
    """T-row extension: a CUSTOM stateful operator via
    ``applyInPandasWithState`` — running per-user event count and value
    sum, maintained across micro-batches in the state store.

    This is the escape hatch for stateful logic Spark's built-in
    windows can't express (custom session rules, CEP-ish patterns,
    online model state). State is one small tuple per user — bounded,
    shuffled once on the key.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        # state carries the UNROUNDED total (rounding only at emit):
        # re-rounding per micro-batch would compound up to 5e-7 of error
        # per trigger and drift from the batch answer's single rounding
        state.update((n, total))
        import pandas as pd  # local import: runs on executors

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            # NoTimeout: processing-time timeouts keep an AvailableNow
            # drain alive waiting for timers — idle-state GC belongs to
            # long-running deployments, not batch-equivalent replays
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: each left event matches right events of
    the same user within ``within`` *before* it. Both sides carry
    watermarks so the join state is garbage-collected — the time-bound
    predicate is what makes unbounded-stream joins feasible (state per
    side ≈ watermark horizon of rows, keyed by user)."""
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.user_id = r.user_id AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL {within}"
        ),
        "inner",
    ).select(
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.ts").alias("right_ts"),
    )


def stream_dedup(events: DataFrame, late: str = "10 minutes") -> DataFrame:
    """T6: stateful dedup bounded by watermark — duplicate event_ids
    arriving within the watermark horizon are suppressed; state for
    older keys is garbage-collected."""
    return events.withWatermark("ts", late).dropDuplicatesWithinWatermark(["event_id"])
# One persisted tier the compaction policy folds: (label, present,
# compact). ``present()`` is probed at epoch start; ``compact(cap)`` runs
# the tier's threshold compaction at ``cap`` files per partition (the
# tiers' compact functions take it as their third positional argument).
# The label names the action's wall when two tiers compact overlapped.
_Tier = tuple[str, Callable[[], bool], Callable[[int], object]]


class _IngestGate:
    """The step loop the four ``foreachBatch`` ingest gates (t10-t13)
    share. A gate builds its persisted tiers under ``work`` and hands
    ``run`` a ``check(batch_df, bid) -> (admitted, append)`` callable
    holding only its tier phases; ``append`` is None when the check
    already wrote the tier (a bootstrap). The shared contract:

    * **Work dir.** ``work_dir`` (created if missing, reused if present)
      or a temp dir removed at exit. Its persisted tiers are the state
      of record: a later call on the same ``work_dir`` checks its
      batches against everything admitted before. A call's stream
      checkpoint and epoch sink are keyed by its path-safe
      ``cache_key`` (``ckpt/<key>``, ``<sink>/<key>/e{bid}``), so a
      later call with another key starts its own epochs at ``e0``
      without touching an earlier call's output, and the frame ``run``
      returns holds this call's rows only.
    * **Lease.** Each micro-batch holds the work-dir writer lease over
      its WHOLE check -> sink -> append step, so a second gate process
      on the same tiers refuses loudly instead of checking against an
      index another writer is mid-appending to (the per-op leases
      inside acquire reentrantly under it). ``locked`` runs any other
      tier mutation (t10's seed bootstrap) under the same lease.
    * **Epoch-keyed overwrite sink.** Epoch ``bid`` clears and then
      overwrites ``<sink>/<key>/e{bid}``, so a retried epoch replaces its
      own output. ``append`` gets the committed rows re-read from the sink
      (a cheap columnar read), so tier appends derive from what was
      committed and the check plan runs once.
    * **Idempotent appends, same-id replay convergence.** Every tier
      append anti-joins the committed rows against the ids already
      indexed (a read pruned to the batch's own partitions), so a
      re-append is a no-op. Every cross-batch check ignores matches
      under the row's OWN id, so an epoch replayed after its append
      landed recomputes the same admitted set instead of rejecting
      itself. Ids must therefore be unique across the stream (and
      disjoint from any seed corpus).
    * **Compaction policy.** With ``auto_compact`` set, every epoch
      after the first runs the threshold compaction (``auto_compact``
      files per partition; only hotter partitions are rewritten, so it
      is one metadata aggregate when nothing is hot) of each PRESENT
      tier, overlapped when there are two, then ``vacuum_index`` on
      the work dir when ``auto_vacuum`` is set. Compaction preserves
      contents exactly, so the admitted set does not depend on it.

    ``ARM_GATE_TIMING=1`` prints one ``ARM_GATE_TIMING <gate> batch=N
    label=seconds ...`` line per epoch: ``compact``, the gate's own
    phase marks, ``sink`` and ``appends``, plus the wall of each
    overlapped action. The same labels name the Spark jobs: every job
    of a phase carries the label as a prefix of the stream's own job
    description (``within_batch: ... batch = N``), so the status UI
    and REST API attribute each job to its phase and epoch.

    An exception raised inside a step stops the stream and reaches the
    caller of ``run`` as itself, not wrapped in the stream's
    ``StreamingQueryException``. A refused writer lease is raised
    before the step starts and keeps that wrapper, whose text names the
    holder."""

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str | None,
        prefix: str,
        sink: str = "admitted",
    ) -> None:
        if work_dir is None:
            work_dir = tempfile.mkdtemp(prefix=prefix)
            atexit.register(shutil.rmtree, work_dir, ignore_errors=True)
        self.spark = spark
        self.work = work_dir
        self.sink = os.path.join(work_dir, sink)
        os.makedirs(self.sink, exist_ok=True)
        timing = os.environ.get("ARM_GATE_TIMING") == "1"
        self._marks: list[tuple[str, float]] | None = [] if timing else None
        self._t0 = time.time()
        self._phases: tuple[str, ...] = ()
        self._base: str | None = None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def locked(self, fn: Callable, *args):
        from actuarial_reserve_modelling_spark.sources.lease import writer_lease

        with writer_lease(self.work):
            return fn(*args)

    def _describe(self, phase: str | None) -> None:
        """Prefix the stream's job description with ``phase`` (None
        restores it): the prefix keeps the stream's ``batch = N`` tail."""
        desc = self._base if phase is None else f"{phase}: {self._base or ''}"
        self.spark.sparkContext.setLocalProperty("spark.job.description", desc)

    def mark(self, label: str) -> None:
        """Close the current timing phase under ``label``; the jobs that
        follow are described as the next phase's."""
        if self._marks is not None:
            self._marks.append((label, round(time.time() - self._t0, 2)))
        self._t0 = time.time()
        nxt = self._phases.index(label) + 1
        if nxt < len(self._phases):
            self._describe(self._phases[nxt])

    def overlap(self, labeled_fns: list[tuple[str, Callable[[], None]]]) -> None:
        _run_overlapped(labeled_fns, self._marks)

    def run(
        self,
        name: str,
        batches: list[DataFrame],
        cols: tuple[str, ...],
        cache_key: str,
        state_partitions: int,
        check: Callable[[DataFrame, int], tuple[DataFrame, Callable | None]],
        sink_cols: tuple[str, ...],
        out_cols: tuple[str, ...],
        tiers: list[_Tier],
        auto_compact: int | None,
        auto_vacuum: bool = False,
        phases: tuple[str, ...] = (),
    ) -> DataFrame:
        """Drain ``batches`` through the step loop; ``phases`` are the
        labels ``check`` marks, in order."""
        spark = self.spark
        key = _path_safe(cache_key)
        sink = os.path.join(self.sink, key)
        self._phases = ("compact", *phases, "sink", "appends")

        def step(batch_df: DataFrame, bid: int) -> None:
            if self._marks is not None:
                self._marks.clear()
            self._t0 = time.time()
            out_epoch = os.path.join(sink, f"e{bid}")
            shutil.rmtree(out_epoch, ignore_errors=True)
            if auto_compact and bid > 0:
                due = [
                    (label, partial(compact, auto_compact))
                    for label, present, compact in tiers
                    if present()
                ]
                # tiers live in different directories, each under its
                # own lease, so their compactions are independent and a
                # hot epoch's rewrites share the cluster instead of
                # queueing; vacuum waits for all of them (it reads every
                # tier's live-file set)
                if len(due) > 1:
                    self.overlap(due)
                elif due:
                    due[0][1]()
                if auto_vacuum:
                    vacuum_index(spark, self.work, dry_run=False)
            self.mark("compact")
            admitted, append = check(batch_df, bid)
            admitted.select(*sink_cols).withColumn(
                "batch", F.lit(bid).cast("int")
            ).write.mode("overwrite").parquet(out_epoch)
            committed = (
                None
                if append is None
                else spark.read.parquet(out_epoch).select(*sink_cols)
            )
            self.mark("sink")
            if append is not None:
                append(committed)
            self.mark("appends")
            if self._marks is not None:
                print(f"ARM_GATE_TIMING {name} batch={bid} " + " ".join(
                    f"{k}={v}" for k, v in self._marks), flush=True)

        failed: list[BaseException] = []

        def kept_step(batch_df: DataFrame, bid: int) -> None:
            try:
                step(batch_df, bid)
            except BaseException as e:
                failed.append(e)
                raise

        def on_batch(batch_df: DataFrame, bid: int) -> None:
            self._base = spark.sparkContext.getLocalProperty("spark.job.description")
            self._describe("compact")
            try:
                self.locked(kept_step, batch_df, bid)
            finally:
                self._describe(None)

        stream = staged_ordered_source(
            spark, [b.select(*cols) for b in batches], cache_key
        )
        try:
            _drain(
                spark,
                stream.writeStream.foreachBatch(on_batch),
                os.path.join(self.path("ckpt"), key),
                state_partitions,
            )
        except Exception:
            if failed:
                # the step's own error names the root cause; the stream's
                # wrapper only repeats it inside a JVM trace
                raise failed[-1] from None
            raise
        return (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(sink)
            .select(*out_cols)
        )


class _FingerprintTier:
    """The persisted exact-fingerprint tier of the t10 and t11 gates:
    ``(doc_id, fingerprint)`` rows hive-partitioned by ``fpart =
    pmod(xxhash64(fingerprint), fp_parts)``. A batch reads only its own
    fingerprint-hash partitions, so per-batch index bytes scale with the
    batch's bucket footprint, never the corpus; at 100 TB the tier is
    ~24 bytes per kept doc and the check shuffles digests, never
    documents."""

    _DS = Dataset("", "fpart")  # the tier root is the dataset

    def __init__(self, spark: SparkSession, path: str, fp_parts: int) -> None:
        self.spark = spark
        self.path = path
        self.fpart = hash_part(fp_parts, "fingerprint")

    def present(self) -> bool:
        return _committed_parquet(self.path)

    def compact(self, cap: int) -> None:
        self._DS.compact(self.spark, self.path, cap)

    def fingerprints(self, docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
        from actuarial_reserve_modelling_spark.operators.textstats import (
            content_fingerprints,
        )

        return content_fingerprints(docs, keep=list(keep)).withColumn(
            "fpart", self.fpart
        )

    def first_wins(self, docs: DataFrame) -> tuple[DataFrame, list[int]]:
        """Within-batch first-wins (lowest doc_id per fingerprint) as an
        eagerly checkpointed ``(doc_id, fingerprint, fpart)`` frame, and
        the batch's fpart list from ONE collect: the admitted set is a
        subset of it, so the list also bounds the append-side pruned
        read."""
        from pyspark.sql import Window

        w = Window.partitionBy("fingerprint").orderBy("doc_id")
        first = (
            self.fingerprints(docs)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("doc_id", "fingerprint", "fpart")
            .localCheckpoint(eager=True)
        )
        return first, self._DS.parts_of(first)

    def hits(self, first: DataFrame, fparts: list[int]) -> DataFrame:
        """The distinct doc_ids of ``first`` whose fingerprint is indexed
        under a DIFFERENT doc_id (same-id matches are replays, not
        duplicates); the index read is pruned to ``fparts``."""
        seen = self._DS.read(self.spark, self.path, fparts).select(
            "fingerprint", F.col("doc_id").alias("_idx_id")
        )
        return (
            first.join(seen, "fingerprint")
            .filter(F.col("doc_id") != F.col("_idx_id"))
            .select("doc_id")
            .distinct()
        )

    def survivors(self, first: DataFrame, fparts: list[int]) -> DataFrame:
        """``first`` minus its ``hits``."""
        if not self.present():
            return first
        return first.join(self.hits(first, fparts), "doc_id", "left_anti")

    def append(self, rows: DataFrame, fparts: list[int]) -> None:
        """Append the ``(doc_id, fingerprint, fpart)`` rows whose doc_id
        is not indexed yet; the anti-join reads only ``fparts``, which
        must cover the rows' partitions."""
        if self.present():
            rows = self._DS.unindexed(self.spark, self.path, rows, "doc_id", fparts)
        self._DS.write(rows.select("doc_id", "fingerprint", "fpart"), self.path)


def _cluster_reps(frame: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """``frame`` minus every non-representative of the connected
    components of the ``(d1, d2)`` ``pairs`` (``dedup_clusters``: each
    cluster keeps its minimum id) — the within-batch tier of the t12
    gate. ``pairs`` is checkpointed eagerly: the emptiness probe and
    the CC rounds would otherwise each re-run the whole LSH pair
    pipeline."""
    from actuarial_reserve_modelling_spark.operators.dedup import dedup_clusters

    pairs = pairs.localCheckpoint(eager=True)
    if pairs.limit(1).count() == 0:
        return frame
    non_reps = (
        dedup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select(F.col("doc_id").alias(id_col))
    )
    return frame.join(non_reps, id_col, "left_anti").localCheckpoint(eager=True)


def incremental_ingest_dedup(
    spark: SparkSession,
    batches: list[DataFrame],
    cache_key: str,
    seed: DataFrame | None = None,
    state_partitions: int = 8,
    auto_compact: int | None = 16,
    fp_parts: int = 64,
    work_dir: str | None = None,
    auto_vacuum: bool = False,
) -> DataFrame:
    """Continuous-ingest exact dedup (the streaming form of the D8
    incremental-ingest tier, ``l18``): stream document batches (one
    micro-batch each, in order) and admit only documents whose
    normalized-content fingerprint has not been seen before — by any
    earlier batch, by the optional ``seed`` corpus, or by a
    lower-doc_id row of the same batch (first-wins). Per batch: the
    exact-fingerprint tier's first-wins window, its pruned check, and
    an append of the survivors, so the index grows batch over batch and
    yesterday's corpus is never re-scanned. The loop, sink, lease and
    compaction are ``_IngestGate``'s.

    ``seed`` doc_ids must be disjoint from the stream's. The seed is
    appended (under the work-dir lease) through the same pruned doc_id
    anti-join the epoch appends use, never overwritten: an overwrite
    under a reused ``work_dir`` would wipe every earlier batch's
    fingerprints and re-admit their duplicates, while the append makes
    a re-run with the same seed a no-op and indexes exactly the new
    docs of a grown seed.

    Returns the accepted rows ``(doc_id, fingerprint, batch)``.
    """
    gate = _IngestGate(spark, work_dir, "arm_ingest_", sink="accepted")
    fpt = _FingerprintTier(spark, gate.path("index"), fp_parts)

    if seed is not None:

        def bootstrap() -> None:
            seed_fp = fpt.fingerprints(seed).localCheckpoint(eager=False)
            # the list bounds the anti-join's read
            fpt.append(seed_fp, fpt._DS.parts_of(seed_fp) if fpt.present() else [])

        gate.locked(bootstrap)

    def check(batch_df: DataFrame, bid: int):
        first, fparts = fpt.first_wins(batch_df)
        return fpt.survivors(first, fparts), lambda committed: fpt.append(
            committed, fparts
        )

    return gate.run(
        "incremental_ingest_dedup",
        batches,
        ("doc_id", "text"),
        cache_key,
        state_partitions,
        check,
        sink_cols=("doc_id", "fingerprint", "fpart"),
        out_cols=("doc_id", "fingerprint", "batch"),
        tiers=[("compact", fpt.present, fpt.compact)],
        auto_compact=auto_compact,
        auto_vacuum=auto_vacuum,
    )


def incremental_neardup_ingest(
    spark: SparkSession,
    batches: list[DataFrame],
    cache_key: str,
    threshold: float = 0.95,
    bands: int = 16,
    rows_per_band: int = 16,
    state_partitions: int = 8,
    auto_compact: int | None = 8,
    fp_parts: int = 64,
    work_dir: str | None = None,
    auto_vacuum: bool = False,
) -> DataFrame:
    """The FULL continuous-ingest gate — the production loop a training
    corpus runs — over two partition-pruned persisted tiers (the loop,
    sink, lease and compaction are ``_IngestGate``'s). Each micro-batch
    is driver-resident: ONE bounded collect brings its rows to the
    driver as ``(doc_id, text, fingerprint, fpart, htok)`` (fingerprint,
    fingerprint-hash partition and sorted hashed tokens all computed
    JVM-side), every fact about the batch alone is computed there, and
    Spark runs only what touches the persisted tiers. Per arriving
    batch:

    1. **exact tier** — within-batch first-wins (the lowest doc_id per
       fingerprint) on the driver, then the check against the
       exact-fingerprint tier (``fp_index``) read pruned to the batch's
       own fingerprint-hash partitions (one job collecting the hit ids;
       same-id matches are replays);
    2. **within-batch near-dup tier** — ``minhash_near_dup_local`` over
       the exact survivors: exact token-set collapse, MinHash signing
       with the Spark kernel's own arithmetic (``minhash_rows``), the
       same banding and skew guard, exact verify, and min-id connected
       components by union-find; token-less docs survive. Each
       component keeps its minimum doc_id;
    3. **cross-batch near-dup tier** — the survivors' signed rows form
       one local ``(doc_id, htok, sig)`` frame, stamped with its
       params-hash, checked AGAINST the persisted dedup tier
       (``minhash_dedup_against_index_persisted`` — banded projection
       read pruned to the batch's bucket set; same-id pairs excluded,
       so replays converge). A tier persisted with other signing
       parameters is checked with rows re-signed locally under ITS
       parameters;
    4. admitted docs append to BOTH tiers partition-locally, overlapped:
       the dedup tier from the signed frame (``add_to_dedup_index(
       presigned=...)``), the fingerprint tier from the first-wins rows,
       each restricted to the ids re-read from the committed sink.
       Rejected docs contribute NOTHING — the tiers stay linear in the
       KEPT corpus, not the ingested stream.

    Batch 0 bootstraps the dedup tier (``persist_dedup_index`` on the
    signed frame restricted to its admitted ids — meta/ is written last,
    so its presence is the commit marker; a retry re-persists over
    partial state). Both tiers compact under ``_IngestGate``'s policy
    (``compact_dedup_index`` and the fingerprint tier, overlapped).

    Sizing contract: a micro-batch must fit on the driver. A batch of
    more than ``_NEARDUP_MAX_ROWS`` (2,000) rows raises a ValueError
    naming the epoch, its row count and the bound; it is raised before
    the epoch's checks read or append to any tier (the epoch's
    compaction, which runs first, may already have rewritten tier
    files, which leaves contents unchanged). Split the stream into
    smaller batches. Per-batch tier I/O stays bounded by the batch's
    partition footprint.

    Union-find inside + sequential batch dependence ⇒ not
    SQL-expressible in closed form: the registry oracle replays the
    batches in SQL, and a pytest verifies the gate against an
    independent pure-Python reference implementing the same contract.

    Returns admitted rows ``(doc_id, batch)``.
    """
    from actuarial_reserve_modelling_spark.operators.arrowkit import local_frame
    from actuarial_reserve_modelling_spark.operators.dedup import (
        HTOK,
        MINHASH_SEED,
        add_to_dedup_index,
        compact_dedup_index,
        dedup_index_frame,
        minhash_dedup_against_index_persisted,
        minhash_near_dup_local,
        persist_dedup_index,
        read_dedup_index_meta,
        sign_local,
    )

    gate = _IngestGate(spark, work_dir, "arm_neardup_ingest_")
    fpt = _FingerprintTier(spark, gate.path("fp_index"), fp_parts)
    idx_dir = gate.path("dedup_index")

    def _have_index() -> bool:
        return os.path.exists(os.path.join(idx_dir, "meta"))

    def check(batch_df: DataFrame, bid: int):
        rows = (
            fpt.fingerprints(batch_df, keep=("text",))
            .select(
                "doc_id", "text", "fingerprint", "fpart", F.expr(HTOK).alias("htok")
            )
            .limit(_NEARDUP_MAX_ROWS + 1)
            .collect()
        )
        if len(rows) > _NEARDUP_MAX_ROWS:
            raise ValueError(
                f"incremental_neardup_ingest: epoch {bid} holds "
                f"{batch_df.count()} rows, over the {_NEARDUP_MAX_ROWS}-row "
                "bound of a driver-resident micro-batch; split the stream "
                "into smaller batches"
            )
        # 1) exact tier
        first: dict[str, Row] = {}
        for r in sorted(rows, key=lambda r: r["doc_id"]):
            first.setdefault(r["fingerprint"], r)
        docs = list(first.values())  # lowest doc_id per fingerprint, ascending
        fparts = sorted({r["fpart"] for r in docs})
        first_df = local_frame(
            spark,
            [(r["doc_id"], r["fingerprint"], r["fpart"]) for r in docs],
            _FP_ROWS,
        )
        if fpt.present():
            hit = {r["doc_id"] for r in fpt.hits(first_df, fparts).collect()}
            docs = [r for r in docs if r["doc_id"] not in hit]
        gate.mark("exact_tier")
        # 2) within-batch near-dup tier → component representatives
        near = minhash_near_dup_local(
            [(r["doc_id"], r["htok"]) for r in docs],
            threshold=threshold,
            bands=bands,
            rows_per_band=rows_per_band,
        )
        rep = near.reps()
        docs = [r for r in docs if rep.get(r["doc_id"], r["doc_id"]) == r["doc_id"]]
        gate.mark("within_batch")
        # 3) cross-batch near-dup tier. Every survivor with tokens is an
        # exact-collapse rep, so the reps' signed rows cover the batch;
        # the one local frame serves the check, the append and the
        # bootstrap persist
        kept = {r["doc_id"] for r in docs}
        signed = [s for s in near.signed if s[0] in kept]
        boot = not _have_index()
        sign_params = (bands * rows_per_band, MINHASH_SEED)
        if not boot:
            meta = read_dedup_index_meta(spark, idx_dir)
            tier_params = (meta["bands"] * meta["rows_per_band"], meta["seed"])
            if tier_params != sign_params:
                # foreign tier in the work dir: sign with ITS params
                sign_params = tier_params
                signed = sign_local([(d, h) for d, h, _ in signed], *sign_params)
        signed_e = dedup_index_frame(spark, signed, *sign_params)
        admitted = local_frame(
            spark, [(r["doc_id"], r["text"]) for r in docs], _DOC_ROWS
        )
        if not boot:
            hits = [
                r["new_id"]
                for r in minhash_dedup_against_index_persisted(
                    spark, idx_dir, admitted, threshold=threshold, presigned=signed_e
                )
                .select("new_id")
                .distinct()
                .collect()
            ]
            if hits:
                admitted = admitted.filter(~F.col("doc_id").isin(hits))
        gate.mark("cross_batch")

        def append(committed: DataFrame) -> None:
            ids = committed.select("doc_id")

            def _index_append() -> None:
                if boot:
                    persist_dedup_index(
                        signed_e.join(ids, "doc_id", "leftsemi"),
                        idx_dir,
                        bands=bands,
                        rows_per_band=rows_per_band,
                    )
                else:
                    add_to_dedup_index(spark, idx_dir, committed, presigned=signed_e)

            def _fp_append() -> None:
                fpt.append(first_df.join(ids, "doc_id", "leftsemi"), fparts)

            # the two appends run from two driver threads: both derive
            # only from the committed sink and driver-resident frames,
            # and write to DIFFERENT directories, so the jobs are
            # independent and the scheduler back-fills one append's
            # straggler tail with the other's tasks. Crash states are the
            # set a retry already heals (the stream replays a failed step
            # before any later batch runs, and both appends are anti-join
            # idempotent), so only the wall changes, never the tiers.
            gate.overlap([("index_append", _index_append), ("fp_append", _fp_append)])

        return admitted, append

    return gate.run(
        "incremental_neardup_ingest",
        batches,
        ("doc_id", "text"),
        cache_key,
        state_partitions,
        check,
        sink_cols=("doc_id", "text"),
        out_cols=("doc_id", "batch"),
        tiers=[
            (
                "compact_index",
                _have_index,
                partial(compact_dedup_index, spark, idx_dir),
            ),
            ("compact_fp", fpt.present, fpt.compact),
        ],
        auto_compact=auto_compact,
        auto_vacuum=auto_vacuum,
        phases=("exact_tier", "within_batch", "cross_batch"),
    )


def incremental_semantic_ingest(
    spark: SparkSession,
    batches: list[DataFrame],
    cache_key: str,
    threshold: float = 0.9,
    num_planes: int = 12,
    num_tables: int = 24,
    seed: int = 42,
    dim: int = 64,
    state_partitions: int = 8,
    auto_compact: int | None = 8,
    work_dir: str | None = None,
    auto_vacuum: bool = False,
) -> DataFrame:
    """Continuous-ingest SEMANTIC dedup — the embedding-tier gate a
    multimodal/RAG corpus runs alongside the text gate
    (``incremental_neardup_ingest``), riding the persisted vector-
    signature tier with per-batch index I/O pruned to the batch's own
    partition footprint (the loop, sink, lease and compaction are
    ``_IngestGate``'s). Per arriving batch of (vec_id, embedding):

    1. **within-batch tier** — hyperplane-LSH pairs over the batch
       (``lsh_cosine_pairs``), connected components
       (``dedup_clusters``), keep each cluster's minimum id;
    2. **cross-batch tier** — survivors checked AGAINST the persisted
       tier via ``lsh_cosine_dedup_against_index_persisted``: sigs/
       read pruned to the batch's own spart directories, vectors/ to
       the candidates' id-hash buckets; any verified cosine ≥ τ hit
       rejects;
    3. admitted vectors ``add_to_vecsig_index`` into their own
       partition directories — the index stays linear in the KEPT
       corpus and later batches never re-sign or re-scan earlier data.

    Batch 0 bootstraps the tier (``persist_vecsig_index`` on its
    admitted set — overwrite clears partial state). Identical vectors
    sign identically in every table, so exact re-encounters are
    rejected with probability 1 — the property the registry oracle
    exploits.

    Iterative CC inside + sequential batch dependence ⇒ not
    SQL-expressible in general; the planted-duplicate registry query
    (t12) carries the hash-grade driver evidence.

    Returns admitted rows ``(vec_id, batch)``.
    """
    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_vecsig_index,
        compact_vecsig_index,
        hyperplane_signatures_multi,
        lsh_cosine_dedup_against_index_persisted,
        lsh_cosine_pairs_with_index,
        persist_vecsig_index,
        read_vecsig_index_meta,
        vecsig_spart,
    )

    gate = _IngestGate(spark, work_dir, "arm_sem_ingest_")
    idx_dir = gate.path("vecsig_index")

    def _have_index() -> bool:
        return os.path.exists(os.path.join(idx_dir, "meta"))

    def check(batch_df: DataFrame, bid: int):
        vecs = batch_df.select("vec_id", "embedding").localCheckpoint(eager=True)
        # 1) within-batch semantic clustering → cluster representatives.
        # The _with_index form also hands back the batch's signature
        # frame (one kernel run) — the cross-batch check and the tier
        # append below reuse it instead of re-signing when the tier's
        # persisted parameters match the gate's (always true for a
        # gate-managed tier: the bootstrap persists with exactly these).
        pairs_raw, batch_sigs = lsh_cosine_pairs_with_index(
            vecs,
            threshold=threshold,
            num_planes=num_planes,
            num_tables=num_tables,
            seed=seed,
            dim=dim,
        )
        vecs = _cluster_reps(
            vecs,
            pairs_raw.select(F.col("v1").alias("d1"), F.col("v2").alias("d2")),
            "vec_id",
        )
        if not _have_index():
            # batch 0 (or its retry): bootstrap the persisted tier on
            # the admitted set; persist's overwrite clears partial
            # state. The within-batch signature frame rides along —
            # persist semi-joins it to the admitted ids instead of
            # re-running the kernel (same parameters by construction).
            persist_vecsig_index(
                vecs,
                idx_dir,
                num_planes=num_planes,
                num_tables=num_tables,
                seed=seed,
                dim=dim,
                presigned=batch_sigs,
            )
            return vecs, None
        # 2) cross-batch check, pruned to the batch's own partitions.
        # The batch is signed ONCE with the tier's persisted parameters
        # and the frame is shared with the index append — committed ⊆
        # vecs and the hyperplane signatures are deterministic, so the
        # appended rows are identical to a re-sign of the committed
        # batch.
        meta_idx = read_vecsig_index_meta(spark, idx_dir)
        if (
            meta_idx["num_planes"],
            meta_idx["num_tables"],
            meta_idx["seed"],
            meta_idx["dim"],
        ) == (num_planes, num_tables, seed, dim):
            # reuse the within-batch kernel run: spart is a pure
            # projection of the (table, sig) cell, and the semi-join
            # restricts to the surviving vectors
            sigs_e = batch_sigs.withColumn(
                "spart", vecsig_spart(meta_idx["k_sig_parts"])
            ).join(vecs.select("vec_id"), "vec_id", "leftsemi")
        else:
            # foreign tier in the work dir: sign with ITS params
            sigs_e = (
                hyperplane_signatures_multi(
                    vecs,
                    meta_idx["num_planes"],
                    meta_idx["num_tables"],
                    meta_idx["seed"],
                    meta_idx["dim"],
                )
                .withColumn("spart", vecsig_spart(meta_idx["k_sig_parts"]))
                .localCheckpoint(eager=True)
            )
        hits = (
            lsh_cosine_dedup_against_index_persisted(
                spark, idx_dir, vecs, threshold=threshold, presigned=sigs_e
            )
            .select(F.col("new_id").alias("vec_id"))
            .distinct()
        )
        return vecs.join(hits, "vec_id", "left_anti"), lambda committed: (
            add_to_vecsig_index(spark, idx_dir, committed, presigned=sigs_e)
        )

    return gate.run(
        "incremental_semantic_ingest",
        batches,
        ("vec_id", "embedding"),
        cache_key,
        state_partitions,
        check,
        sink_cols=("vec_id", "embedding"),
        out_cols=("vec_id", "batch"),
        tiers=[("compact", _have_index, partial(compact_vecsig_index, spark, idx_dir))],
        auto_compact=auto_compact,
        auto_vacuum=auto_vacuum,
    )


def incremental_ann_ingest(
    spark: SparkSession,
    batches: list[DataFrame],
    cache_key: str,
    threshold: float = 0.999999,
    k: int = 1,
    state_partitions: int = 8,
    auto_compact: int | None = 8,
    work_dir: str | None = None,
    refresh_recall_curve: int | None = None,
) -> DataFrame:
    """Continuous ingest with the PERSISTED hierarchical ANN index as
    the gate state (the L10 tier driving a T-row stream — t12's
    semantic gate re-based onto the partition-pruned index; the loop,
    sink, lease and compaction are ``_IngestGate``'s). Per arriving
    batch of (vec_id, embedding):

    1. **within-batch tier** — bitwise-identical vectors collapse to
       their minimum id (group on the vector itself, no hashing — the
       exactness the oracle pins);
    2. **cross-batch tier** — survivors query the persisted index
       (``ann_ivf_hier_topk_persisted``, vector-bearing layout, ZERO
       corpus reads); any top-k neighbor with sim ≥ τ rejects. A query
       bitwise-identical to ANY indexed member — original or earlier
       ingest — retrieves it at sim 1.0 with probability 1 (the
       l3g/l35 structural guarantee), so exact re-encounters are
       rejected deterministically;
    3. admitted vectors ``add_to_ann_index`` into their supers'
       partition directories — per-batch index growth is linear in the
       KEPT corpus, per-batch index I/O is the probed fraction.

    Batch 0 bootstraps the index (``ivf_hier_build`` +
    ``persist_ann_index(embeddings=...)``; overwrite clears partial
    state) — the quantizer trains on the first batch and is immutable
    after, the standard train-on-first-chunk contract (routing quality
    for later batches follows the add-path guarantee, not retraining).
    Compaction (``compact_ann_index``) is safe mid-stream: members/
    holds only job-committed rows (a retried add heals via the
    anti-join, never via file removal).

    Sizing contract: the cross-batch query rides the ANN family's
    bounded-query-batch contract (the batch is broadcast into the
    routing join), so size micro-batches with the stream trigger
    (maxFilesPerTrigger / maxBytesPerTrigger) to the tens-of-thousands
    of vectors a broadcast comfortably carries — the natural
    micro-batch granularity; the INDEX side is the unbounded one and
    stays partition-pruned.

    Iterative batch dependence ⇒ not SQL-expressible in general; the
    planted-twin registry query (t13) carries hash-grade driver
    evidence (exact twins planted across and within batches must all
    be rejected, originals all admitted).

    ``refresh_recall_curve=N`` (opt-in) re-runs ``persist_recall_audit``
    on the tier every N batches after the append — the ingested corpus
    drifts away from whatever curve the tier was audited at, and this
    keeps ``nprobe="auto"`` consumers routing on a measured curve
    instead of tripping the 2×-staleness warning. One bounded exact
    pass per refresh (n_sample=32 × corpus, the sweep's shared-exact
    cost) — pick N so that cost amortizes over your batch cadence; OFF
    by default because the gate itself queries at an explicit
    k/threshold and never consumes the curve.

    Returns admitted rows ``(vec_id, batch)``.
    """
    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_ann_index,
        ann_ivf_hier_topk_persisted,
        compact_ann_index,
        ivf_hier_build,
        persist_ann_index,
        persist_recall_audit,
    )

    gate = _IngestGate(spark, work_dir, "arm_ann_ingest_")
    idx_dir = gate.path("ann_index")

    def _have_index() -> bool:
        return os.path.exists(os.path.join(idx_dir, "supers"))

    def check(batch_df: DataFrame, bid: int):
        # 1) within-batch exact collapse: one row per distinct vector,
        # minimum id wins (first-wins under the deterministic id order)
        reps = (
            batch_df.select("vec_id", "embedding")
            .groupBy("embedding")
            .agg(F.min("vec_id").alias("vec_id"))
            .select("vec_id", "embedding")
            .localCheckpoint(eager=True)
        )
        if not _have_index():
            # batch 0 (or its retry): bootstrap the index on the
            # admitted set; persist's overwrite clears partial state
            index, super_cent = ivf_hier_build(reps)
            persist_ann_index(index, super_cent, idx_dir, embeddings=reps)
            return reps, None
        # 2) pruned query against the persisted tier. ids are unique
        # across the stream, so in the normal flow a query never meets
        # its own id; a batch retried after its add committed would
        # find each vector under its own id at sim 1.0, reject it and
        # overwrite its epoch sink empty, so same-id hits are excluded
        # (``_IngestGate``'s replay contract). k+1 so the
        # excluded self can't shadow a true duplicate out of the
        # window on replay; rejection depends only on the MAX non-self
        # sim ≥ τ, so normal-flow decisions are bit-identical to the
        # plain k query. return_probes hands back the query's
        # rank-ordered level-1 assignment — its top-1 rows ARE the
        # append's hard membership supers (same kernel, same
        # (distance, index) tie rule), so the batch's level-1 matmul
        # runs once per step.
        topk, probes = ann_ivf_hier_topk_persisted(
            spark, idx_dir, None, reps, k=k + 1, return_probes=True
        )
        hits = (
            topk.filter(
                (F.col("sim") >= threshold)
                & (F.col("query_id") != F.col("neighbor_id"))
            )
            .select(F.col("query_id").alias("vec_id"))
            .distinct()
        )

        def append(committed: DataFrame) -> None:
            # the checkpointed probe frame covers reps ⊇ committed
            # (committed rows are bitwise copies of admitted reps
            # through the parquet sink)
            add_to_ann_index(spark, idx_dir, committed, preassigned=probes)
            if refresh_recall_curve and bid > 0 and bid % refresh_recall_curve == 0:
                # post-append: audit the corpus the NEXT batch will
                # query (its lease nests inside the held work-dir lease)
                persist_recall_audit(
                    spark, idx_dir, probe_settings=(1, 2, 4), n_sample=32
                )

        return reps.join(hits, "vec_id", "left_anti"), append

    return gate.run(
        "incremental_ann_ingest",
        batches,
        ("vec_id", "embedding"),
        cache_key,
        state_partitions,
        check,
        sink_cols=("vec_id", "embedding"),
        out_cols=("vec_id", "batch"),
        tiers=[("compact", _have_index, partial(compact_ann_index, spark, idx_dir))],
        auto_compact=auto_compact,
    )
