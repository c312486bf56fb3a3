"""T5/T6 watermark semantics (not SQL-expressible → behavioral tests)
plus batch-equivalence spot checks for the streaming surface."""

from __future__ import annotations

import pytest

import os
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

from actuarial_reserve_modelling_spark.streaming.pipeline import (
    run_to_table,
    stream_dedup,
    watermarked_tumbling,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
    ]
)


def _write_batch(spark, dirpath: str, idx: int, rows: list[tuple]) -> None:
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    sub = os.path.join(dirpath, f"b{idx}")
    df.coalesce(1).write.mode("overwrite").parquet(sub)
    # FileStreamSource orders by modification time; writes land within
    # the same clock tick, so pin mtimes to make arrival order explicit.
    import time

    base = time.time() - 1000 + idx * 100
    for root, _, files in os.walk(sub):
        for f in files:
            os.utime(os.path.join(root, f), (base, base))


def _open_stream(spark, dirpath: str):
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(dirpath, "b*"))
    )


@pytest.mark.slow
def test_t5_watermark_drops_late_rows(spark, tmp_path):
    """A row older than (max event time - watermark delay) arriving in a
    later *run* must be dropped from append-mode output.

    Note: within a single AvailableNow drain, Spark applies the
    late-record filter with the watermark planned at run start, so
    back-to-back micro-batches don't yet drop — the arrival must land in
    a new run (checkpointed watermark), which is also the realistic
    pattern (EventBridge-style triggers, T1)."""
    from datetime import datetime as dt

    d = tempfile.mkdtemp(prefix="arm_t5_")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run():
        agg = watermarked_tumbling(
            _open_stream(spark, d), width="10 minutes", late="10 minutes"
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: events at 10:00 and 11:00 → checkpointed watermark 10:50
    _write_batch(spark, d, 0, [(1, dt(2024, 1, 1, 10, 0, 0), 1), (2, dt(2024, 1, 1, 11, 0, 0), 1)])
    run()
    # run 2: event_id=3 is below the watermark (10:01 < 10:50) → dropped
    _write_batch(spark, d, 1, [(3, dt(2024, 1, 1, 10, 1, 0), 1), (4, dt(2024, 1, 1, 11, 30, 0), 1)])
    run()
    # run 3: advance watermark so every surviving window finalizes
    _write_batch(spark, d, 2, [(5, dt(2024, 1, 1, 12, 30, 0), 1)])
    run()

    got = {(r["w_start"].isoformat(), r["n"]) for r in spark.read.parquet(out).collect()}
    assert ("2024-01-01T10:00:00", 1) in got, got  # late row NOT counted
    assert ("2024-01-01T10:00:00", 2) not in got, got
    assert ("2024-01-01T11:30:00", 1) in got, got  # on-time row counted


def test_t6_dedup_within_watermark(spark):
    from datetime import datetime as dt

    d = tempfile.mkdtemp(prefix="arm_t6_")
    _write_batch(
        spark,
        d,
        0,
        [
            (1, dt(2024, 1, 1, 10, 0, 0), 1),
            (2, dt(2024, 1, 1, 10, 1, 0), 1),
        ],
    )
    # batch 1 re-sends event_id=1 within the horizon → suppressed
    _write_batch(
        spark,
        d,
        1,
        [
            (1, dt(2024, 1, 1, 10, 2, 0), 1),
            (3, dt(2024, 1, 1, 10, 3, 0), 1),
        ],
    )
    out = run_to_table(
        stream_dedup(_open_stream(spark, d), late="10 minutes"), output_mode="append"
    )
    ids = sorted(r["event_id"] for r in out.collect())
    assert ids == [1, 2, 3], ids


def test_stateful_custom_operator(spark, tmp_path):
    """applyInPandasWithState: per-user counters accumulate across
    micro-batches (update mode) — the custom-stateful escape hatch."""
    from datetime import datetime as dt

    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        stateful_user_counters,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    d = tempfile.mkdtemp(prefix="arm_state_")
    b0 = [(1, dt(2024, 1, 1, 10, 0), 1, 10.0), (2, dt(2024, 1, 1, 10, 1), 2, 5.0)]
    b1 = [(3, dt(2024, 1, 1, 10, 2), 1, 7.0)]
    for i, rows in enumerate([b0, b1]):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, f"b{i}"))
        base = __import__("time").time() - 1000 + i * 100
        for root, _, files in os.walk(os.path.join(d, f"b{i}")):
            for f in files:
                os.utime(os.path.join(root, f), (base, base))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "b*"))
    )
    import uuid

    name = "arm_state_" + uuid.uuid4().hex[:8]
    q = (
        stateful_user_counters(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(name).collect()
    # update mode: user 1 appears after batch 0 (n=1) and batch 1 (n=2);
    # the LAST update per user must show accumulated state
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    assert final[1] == (2, 17.0), rows
    assert final[2] == (1, 5.0), rows


def test_stream_stream_join_batch_equivalence(spark):
    """Stream-stream time-bound join drained with AvailableNow must
    equal the same join run as a plain batch query."""
    from actuarial_reserve_modelling_spark.catalog import load_table
    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        events_stream_source,
        run_to_table,
        stream_stream_join,
    )
    from .conftest import SF_SMOKE

    stream, _ = events_stream_source(spark, SF_SMOKE, n_files=3)
    purchases_s = stream.filter(F.col("event_type") == "purchase")
    clicks_s = stream.filter(F.col("event_type") == "click")
    # the arrival files hold randomly-distributed event times, so an
    # in-span watermark would GC join state between micro-batches and
    # drop legitimate pairs; batch equivalence needs the watermark to
    # exceed the data's full time span (production uses a tight one)
    streamed = run_to_table(
        stream_stream_join(purchases_s, clicks_s, watermark="90 days"),
        output_mode="append",
    )

    ev = load_table(spark, SF_SMOKE, "events")
    p = ev.filter(F.col("event_type") == "purchase").alias("l")
    c = ev.filter(F.col("event_type") == "click").alias("r")
    batch = p.join(
        c,
        F.expr(
            "l.user_id = r.user_id AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 30 minutes"
        ),
    ).select(
        F.col("l.event_id").alias("left_id"), F.col("r.event_id").alias("right_id")
    )
    s_pairs = {(r["left_id"], r["right_id"]) for r in streamed.collect()}
    b_pairs = {(r["left_id"], r["right_id"]) for r in batch.collect()}
    assert len(b_pairs) > 0
    assert s_pairs == b_pairs


def test_foreachbatch_upsert_sink(spark, tmp_path):
    """foreachBatch: arbitrary per-micro-batch sink logic (the upsert /
    merge escape hatch). Each batch dynamic-overwrites its users'
    partitions — idempotent under replay, exactly the S7 pattern driven
    from a stream."""
    from actuarial_reserve_modelling_spark.sources.sinks import overwrite_partitions

    out = str(tmp_path / "upserts")
    stream, _ = __import__(
        "actuarial_reserve_modelling_spark.streaming.pipeline",
        fromlist=["events_stream_source"],
    ).events_stream_source(spark, "/root/testdata/sf0.001", n_files=3)

    seen_batches = []

    def upsert(batch_df, batch_id):
        seen_batches.append(batch_id)
        agg = batch_df.groupBy("user_id").agg(F.count("*").alias("n"))
        overwrite_partitions(agg, out, ["user_id"])

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen_batches) == 3  # one per arrival file
    import os as _os

    assert _os.path.isdir(out)
    result = spark.read.parquet(out)
    assert result.count() > 0
    assert set(result.columns) == {"n", "user_id"}


def test_sinks_roundtrip_and_resume(spark, tmp_path):
    """S5 scalar sink round-trip + S7 dynamic-partition resume."""
    from actuarial_reserve_modelling_spark.sources.sinks import (
        overwrite_partitions,
        read_scalar_text,
        write_if_absent,
        write_partitioned_parquet,
        write_scalar_text,
    )

    scalar = spark.createDataFrame([(1234.5,)], "total double")
    p5 = str(tmp_path / "s5")
    write_scalar_text(scalar, p5)
    back = read_scalar_text(spark, p5).collect()
    assert [r["value"] for r in back] == [1234.5]

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("part"), (F.col("id") * 2.0).alias("v")
    )
    p6 = str(tmp_path / "s6")
    write_partitioned_parquet(df, p6, ["part"])
    assert spark.read.parquet(p6).count() == 100
    # partition pruning happens at plan time
    pruned = spark.read.parquet(p6).filter(F.col("part") == 2)
    assert pruned.count() == 25

    # S7a: second write is a no-op
    p7 = str(tmp_path / "s7")
    assert write_if_absent(df, p7) is True
    assert write_if_absent(df.limit(1), p7) is False
    assert spark.read.parquet(p7).count() == 100

    # S7b: recompute only partition 2; other partitions untouched.
    # r15 ADVICE fix: the dynamic mode rides a per-write writer option,
    # never the session conf — a session left at 'static' must still get
    # a dynamic overwrite, and the conf must not be touched (two driver
    # threads overlapping compactions would otherwise race the
    # set/restore and a static partitioned overwrite deletes the whole
    # dataset root).
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    _orig_set = type(spark.conf).set

    def _guard_set(self, key, value):
        assert key != "spark.sql.sources.partitionOverwriteMode", (
            "overwrite_partitions must not mutate the session-global "
            "partitionOverwriteMode (thread-safety)"
        )
        return _orig_set(self, key, value)

    redo = df.filter(F.col("part") == 2).withColumn("v", F.col("v") + 1000)
    try:
        type(spark.conf).set = _guard_set
        overwrite_partitions(redo, p6, ["part"])
    finally:
        type(spark.conf).set = _orig_set
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    after = spark.read.parquet(p6)
    assert after.count() == 100
    assert after.filter((F.col("part") == 2) & (F.col("v") >= 1000)).count() == 25
    assert after.filter((F.col("part") == 1) & (F.col("v") >= 1000)).count() == 0


def test_foreachbatch_idempotent_epoch_sink(spark, tmp_path):
    """foreachBatch + epoch-keyed dynamic partition overwrite — the
    exactly-once file-sink pattern: every micro-batch writes under its
    epoch partition, so a replayed batch (restart after a crash between
    sink write and checkpoint commit) REPLACES its own partition instead
    of appending duplicates. The drained sink must equal the batch
    table, and a manual epoch replay must leave the count unchanged."""
    from actuarial_reserve_modelling_spark.catalog import load_table
    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        events_stream_source,
    )
    from .conftest import SF_SMOKE

    out = str(tmp_path / "sink")
    stream, src_dir = events_stream_source(spark, SF_SMOKE)

    def write_batch(df, epoch_id):
        (
            df.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(out)
        )

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    expected = load_table(spark, SF_SMOKE, "events").count()
    assert spark.read.parquet(out).count() == expected

    # crash-replay simulation: re-deliver exactly the rows epoch 0
    # actually processed (read back from its own sink partition — file
    # order in src_dir is mtime-dependent, so guessing the file would
    # race) and rewrite; dynamic overwrite must REPLACE partition
    # epoch=0, leaving both its count and the total unchanged
    epoch0 = spark.read.parquet(out + "/epoch=0")
    n0 = epoch0.count()
    assert n0 > 0
    write_batch(epoch0, 0)
    assert spark.read.parquet(out + "/epoch=0").count() == n0
    assert spark.read.parquet(out).count() == expected


def test_incremental_ingest_dedup_with_seed(spark):
    """Seeded continuous-ingest dedup: fingerprints already in the seed
    corpus are rejected in every batch; within/cross-batch duplicates
    keep the earliest (batch, doc_id) row."""
    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        incremental_ingest_dedup,
    )

    seed = spark.createDataFrame(
        [(100, "already ingested text")], ["doc_id", "text"]
    )
    batches = [
        spark.createDataFrame(
            [(0, "fresh alpha"), (1, "already  INGESTED   text"), (2, "fresh alpha")],
            ["doc_id", "text"],
        ),
        spark.createDataFrame(
            [(3, "fresh alpha"), (4, "fresh beta")], ["doc_id", "text"]
        ),
    ]
    got = {
        (r["doc_id"], r["batch"])
        for r in incremental_ingest_dedup(
            spark, batches, cache_key="test_seeded_ingest", seed=seed
        ).collect()
    }
    # doc 1 matches the seed after normalization; doc 2 loses to doc 0
    # in-batch; doc 3 loses to batch-0's doc 0 cross-batch.
    assert got == {(0, 0), (4, 1)}


@pytest.mark.slow
def test_incremental_neardup_ingest_matches_reference(spark):
    """The full ingest gate (exact tier + within-batch clustering +
    against-index near-dup) must match an independent pure-Python
    reference implementing the same contract over the same batches."""
    import hashlib
    import math
    import re

    from pyspark.sql import functions as F

    from actuarial_reserve_modelling_spark.catalog import load_table
    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        incremental_neardup_ingest,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    got = {
        (r["doc_id"], r["batch"])
        for r in incremental_neardup_ingest(
            spark, batches, cache_key="test_neardup_gate", threshold=0.95
        ).collect()
    }
    # compacting the indexes mid-stream must not change the admitted set
    got_compacted = {
        (r["doc_id"], r["batch"])
        for r in incremental_neardup_ingest(
            spark,
            batches,
            cache_key="test_neardup_gate_c",
            threshold=0.95,
            auto_compact=1,
        ).collect()
    }
    assert got == got_compacted

    # ---- independent reference ----
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    by_batch = [[], [], []]
    for d, t in rows:
        by_batch[d % 3].append((d, t))

    def fingerprint(t):
        norm = re.sub(r"\s+", " ", t.strip().lower())
        return hashlib.md5(norm.encode()).hexdigest()[:16]

    def toks(t):
        return {w for w in t.split(" ") if w}

    def jac6(a, b):
        u = len(a | b)
        if u == 0:
            return None
        j = len(a & b) / u
        return math.floor(j * 1e6 + 0.5) / 1e6  # half-up like F.round

    seen_fps, admitted_sets, expect = set(), [], set()
    for bid in range(3):
        batch = sorted(by_batch[bid])
        # exact tier: within-batch first-wins, then index anti-join
        first, batch_fps = [], set()
        for d, t in batch:
            fp = fingerprint(t)
            if fp in batch_fps or fp in seen_fps:
                continue
            batch_fps.add(fp)
            first.append((d, t))
        # within-batch near-dup clustering (union-find, keep min)
        parent = {d: d for d, _ in first}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        tsets = {d: toks(t) for d, t in first}
        ids = [d for d, _ in first]
        for i in range(len(ids)):
            for k in range(i + 1, len(ids)):
                a, b = ids[i], ids[k]
                j = jac6(tsets[a], tsets[b]) if tsets[a] and tsets[b] else None
                if j is not None and j >= 0.95:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        reps = [(d, t) for d, t in first if find(d) == d]
        # cross-batch near-dup vs admitted corpus (prior batches only)
        admitted_now = []
        for d, t in reps:
            ts = toks(d and t or t)
            hit = any(
                ts and s and (jac6(ts, s) or 0) >= 0.95 for s in admitted_sets
            )
            if not hit:
                admitted_now.append((d, t))
        for d, t in admitted_now:
            seen_fps.add(fingerprint(t))
            s = toks(t)
            if s:
                admitted_sets.append(s)
            expect.add((d, bid))

    assert got == expect


def test_neardup_ingest_batch_over_driver_bound_raises(spark, monkeypatch):
    """The t11 gate holds each micro-batch on the driver: a batch over
    the row bound fails with the gate's own error, naming the bound,
    instead of being collected."""
    from actuarial_reserve_modelling_spark.streaming import pipeline

    monkeypatch.setattr(pipeline, "_NEARDUP_MAX_ROWS", 2)
    batch = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f"), (3, "g h i")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="epoch 0 holds 3 rows, over the 2-row bound"):
        pipeline.incremental_neardup_ingest(
            spark, [batch], cache_key="test_neardup_driver_bound"
        )


def _neardup_batches(spark):
    from actuarial_reserve_modelling_spark.catalog import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    return [docs.filter(F.col("doc_id") % 3 == i).select("doc_id", "text") for i in range(3)]


def _tier_rows(spark, work: str) -> dict:
    """Per-partition row multisets of the t11 gate's three datasets."""
    out = {}
    for name, part in (
        ("fp_index", "fpart"),
        ("dedup_index/fingerprints", "part"),
        ("dedup_index/banded", "bpart"),
    ):
        rows = spark.read.parquet(os.path.join(work, name)).collect()
        by_part: dict = {}
        for r in rows:
            by_part.setdefault(r[part], []).append(str(r))
        out[name] = {p: sorted(v) for p, v in by_part.items()}
    return out


def test_neardup_ingest_steady_batch_job_budget(spark, tmp_path):
    """Every t11 batch after the bootstrap runs its tier phases on the
    driver: Spark runs only its collect (the epoch sink and the meta
    read after the bootstrap are pyarrow too), at most 5 jobs per batch,
    counted by the stream's ``batch = N`` job description."""
    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        incremental_neardup_ingest,
    )

    from .conftest import fired_jobs

    with fired_jobs(spark) as jobs:
        incremental_neardup_ingest(
            spark,
            _neardup_batches(spark),
            cache_key="test_neardup_job_budget",
            auto_compact=1,
            work_dir=str(tmp_path / "gate"),
        )
    per_batch = {
        b: [j["description"] for j in jobs if j.get("description", "").endswith(f"batch = {b}")]
        for b in (1, 2)
    }
    assert all(0 < len(d) <= 5 for d in per_batch.values()), per_batch


def test_neardup_ingest_rename_crash_heals(spark, tmp_path, monkeypatch):
    """A crash in the dedup tier's local appends leaves a tier Spark
    still reads, with the ``_tmp_`` staging directory listed by
    ``vacuum_index``; the retried step heals every dataset to the same
    per-partition rows as an uninterrupted run. Two crash points:
    ``os.rename`` fails once the lookup side has landed, before the id
    side has; and once the first ``banded/`` partition has landed, before
    the rest of the lookup side has (the retry must still write the
    landed docs' other partitions)."""
    from actuarial_reserve_modelling_spark.sources.sinks import vacuum_index
    from actuarial_reserve_modelling_spark.sources.tiers import read_index_stats
    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        incremental_neardup_ingest,
    )

    batches = _neardup_batches(spark)
    ref = str(tmp_path / "ref")

    def run(work_dir, key):
        return {
            (r["doc_id"], r["batch"])
            for r in incremental_neardup_ingest(
                spark, batches, cache_key=key, auto_compact=1, work_dir=work_dir
            ).collect()
        }

    want = run(ref, "test_neardup_crash_ref")
    real_rename = os.rename

    def between_sides(dst, landed):
        return "dedup_index/fingerprints/part=" in dst

    def mid_lookup(dst, landed):
        # a data file (not a checksum, not a compaction's directory) of a
        # second banded/ partition, once the first one's file has landed
        return (
            "dedup_index/banded/bpart=" in dst
            and dst.endswith(".parquet")
            and not os.path.basename(dst).startswith(".")
            and any("dedup_index/banded/bpart=" in d for d in landed)
        )

    for name, crash_at in (("sides", between_sides), ("lookup", mid_lookup)):
        work = str(tmp_path / name)
        landed, crashed = [], []

        def rename(src, dst):
            if not crashed and crash_at(dst, landed):
                crashed.append(dst)
                raise OSError("injected crash mid-append")
            if dst.endswith(".parquet") and not os.path.basename(dst).startswith("."):
                landed.append(dst)
            return real_rename(src, dst)

        monkeypatch.setattr(os, "rename", rename)
        with pytest.raises(OSError, match="injected crash"):
            run(work, f"test_neardup_crash_{name}")
        monkeypatch.setattr(os, "rename", real_rename)
        idx = os.path.join(work, "dedup_index")
        fp = spark.read.parquet(idx + "/fingerprints").count()
        banded = spark.read.parquet(idx + "/banded").groupBy("doc_id").count()
        if crash_at is between_sides:
            assert banded.count() > fp
        else:  # some doc has only part of its 16 band rows
            assert banded.filter(F.col("count") < 16).count() > 0
        stage = "banded" if crash_at is mid_lookup else "fingerprints"
        assert any(
            f"/dedup_index/{stage}/_tmp_" in p
            for p in vacuum_index(None, work, dry_run=True)
        )
        assert run(work, f"test_neardup_crash_{name}") == want
        assert _tier_rows(spark, work) == _tier_rows(spark, ref)
        assert read_index_stats(spark, idx) == read_index_stats(
            spark, ref + "/dedup_index"
        )


@pytest.mark.slow
def test_ingest_dedup_with_compaction_preserves_output(spark, tmp_path):
    """Compacting the fingerprint index mid-stream must not change the
    admitted set, and must shrink the index to few files."""
    import os

    from pyspark.sql import functions as F

    from actuarial_reserve_modelling_spark.catalog import load_table
    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        incremental_ingest_dedup,
    )

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    batches = [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)]
    plain = {
        (r["doc_id"], r["batch"])
        for r in incremental_ingest_dedup(
            spark, batches, cache_key="test_compact_plain"
        ).collect()
    }
    compacted = {
        (r["doc_id"], r["batch"])
        for r in incremental_ingest_dedup(
            spark, batches, cache_key="test_compact_on", auto_compact=1
        ).collect()
    }
    assert plain == compacted


def test_compact_parquet_dir_preserves_rows(spark, tmp_path):
    import os

    from actuarial_reserve_modelling_spark.sources.sinks import compact_parquet_dir

    d = str(tmp_path / "idx")
    os.makedirs(d)
    for e in range(6):
        spark.range(e * 10, e * 10 + 10).withColumnRenamed("id", "v").write.mode(
            "overwrite"
        ).parquet(os.path.join(d, f"e{e}"))
    before = {
        r["v"]
        for r in spark.read.option("recursiveFileLookup", "true").parquet(d).collect()
    }
    n_files = compact_parquet_dir(spark, d, target_files=2)
    after = {
        r["v"]
        for r in spark.read.option("recursiveFileLookup", "true").parquet(d).collect()
    }
    assert before == after == set(range(60))
    assert n_files <= 2


def test_dataset_diff_classification(spark):
    from actuarial_reserve_modelling_spark.sources.sinks import dataset_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"]
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", 31.0), (4, "d", 40.0)], ["k", "s", "v"]
    )
    got = {(r["k"], r["change_type"]) for r in dataset_diff(old, new, ["k"]).collect()}
    assert got == {(1, "removed"), (3, "changed"), (4, "added")}
    # unchanged keys (2) are dropped; compare_cols subset narrows the diff
    got_v = {
        (r["k"], r["change_type"])
        for r in dataset_diff(old, new, ["k"], compare_cols=["s"]).collect()
    }
    assert got_v == {(1, "removed"), (4, "added")}  # 3's s is unchanged


def test_dataset_diff_structural_hash(spark):
    """Boundary shifts between adjacent compare columns and NULL vs
    empty string must classify as 'changed' (the concat_ws('') hash
    collided on both; xxhash64 is structural)."""
    from actuarial_reserve_modelling_spark.sources.sinks import dataset_diff

    old = spark.createDataFrame([(1, "ab", "c"), (2, "", None)], ["k", "a", "b"])
    new = spark.createDataFrame([(1, "a", "bc"), (2, None, "")], ["k", "a", "b"])
    got = {(r["k"], r["change_type"]) for r in dataset_diff(old, new, ["k"]).collect()}
    assert got == {(1, "changed"), (2, "changed")}


def test_compact_parquet_dir_crash_window_keeps_data(spark, tmp_path, monkeypatch):
    """A crash between rename-in and delete-old must leave the index
    READABLE (doubled rows absorbed by distinct), never empty."""
    import os
    import shutil

    from actuarial_reserve_modelling_spark.sources import sinks

    d = str(tmp_path / "idx")
    os.makedirs(d)
    for e in range(3):
        spark.range(e * 10, e * 10 + 10).withColumnRenamed("id", "v").write.mode(
            "overwrite"
        ).parquet(os.path.join(d, f"e{e}"))

    # simulate the crash: let the rename land, fail the first delete
    def boom(*a, **k):
        raise RuntimeError("crash mid-compaction")

    monkeypatch.setattr(shutil, "rmtree", boom)
    try:
        sinks.compact_parquet_dir(spark, d, target_files=1)
    except RuntimeError:
        pass
    monkeypatch.undo()
    back = spark.read.option("recursiveFileLookup", "true").parquet(d)
    vals = {r["v"] for r in back.select("v").distinct().collect()}
    assert vals == set(range(30))  # never empty, distinct absorbs the double


@pytest.mark.slow
def test_incremental_semantic_ingest_closed_form_and_compaction(spark):
    """The embedding-tier ingest gate must match the planted-duplicate
    closed form (including the ordering case where a plant arrives in an
    EARLIER batch than its source and wins), and compacting the indexes
    mid-stream must not change the admitted set."""
    from pyspark.sql import functions as F

    from actuarial_reserve_modelling_spark.catalog import load_table
    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        incremental_semantic_ingest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    batches = [corpus.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    got = {
        (r["vec_id"], r["batch"])
        for r in incremental_semantic_ingest(
            spark, batches, cache_key="test_sem_ingest"
        ).collect()
    }
    expect = set()
    for v in (r["vec_id"] for r in emb.collect()):
        if v % 5 != 0:
            expect.add((v, v % 3))
        elif v % 3 != 2:
            expect.add((v, v % 3))       # source batch precedes its plant
        else:
            expect.add((v + 100000, 0))  # plant (batch 0) beats source (batch 2)
    assert got == expect
    got_compacted = {
        (r["vec_id"], r["batch"])
        for r in incremental_semantic_ingest(
            spark, batches, cache_key="test_sem_ingest_c", auto_compact=1
        ).collect()
    }
    assert got_compacted == got


@pytest.mark.slow
def test_incremental_ann_ingest_closed_form_and_compaction(spark):
    """The L10-tier ingest gate (persisted hierarchical ANN index as
    stream state) must admit exactly the originals: cross-batch exact
    twins reject against the bootstrapped index AND against rows the
    add ingested, within-batch twins collapse to their source, the
    index ends linear in the kept corpus, and mid-stream compaction
    does not change the admitted set."""
    from pyspark.sql import functions as F

    from actuarial_reserve_modelling_spark.catalog import load_table
    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        incremental_ann_ingest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    b0 = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    b2 = emb.filter(F.col("vec_id") % 3 == 2)

    def twins(batch, residue, offset):
        return batch.filter(F.col("vec_id") % 30 == residue).select(
            (F.col("vec_id") + offset).alias("vec_id"), "embedding"
        )

    t_b1 = twins(b0, 0, 100_000)     # vs bootstrapped index
    t_b2 = twins(b1, 10, 200_000)    # vs rows the ADD ingested
    t_in = twins(b2, 20, 300_000)    # within-batch collapse
    n_twins = t_b1.count() + t_b2.count() + t_in.count()
    assert min(t_b1.count(), t_b2.count(), t_in.count()) > 0
    batches = [b0, b1.unionByName(t_b1), b2.unionByName(t_b2).unionByName(t_in)]
    got = {
        (r["vec_id"], r["batch"])
        for r in incremental_ann_ingest(
            spark, batches, cache_key="test_ann_ingest"
        ).collect()
    }
    expect = {(r["vec_id"], r["vec_id"] % 3) for r in emb.collect()}
    assert got == expect  # every original admitted, every twin rejected
    assert n_twins > 0
    got_compacted = {
        (r["vec_id"], r["batch"])
        for r in incremental_ann_ingest(
            spark, batches, cache_key="test_ann_ingest_c", auto_compact=1
        ).collect()
    }
    assert got_compacted == got


@pytest.mark.slow
def test_ingest_auto_compaction_bounds_files(spark, tmp_path):
    """r10 verdict #3: the continuous-ingest loops must bound file
    counts WITHOUT the caller remembering a cadence. Many small batches
    through (a) the t13 ANN gate keep members/ partitions at or under
    the auto_compact file threshold (+1 for the current epoch's own
    append) while admitting the identical set as an uncompacted run,
    and (b) the t10 exact gate keep the fingerprint index's directory
    count bounded instead of one-dir-per-epoch-forever."""
    import glob
    import os

    from pyspark.sql import functions as F

    from actuarial_reserve_modelling_spark.catalog import load_table
    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        incremental_ann_ingest,
        incremental_ingest_dedup,
    )
    from .conftest import SF_SMOKE

    # (a) ANN gate: 6 micro-batches, every add appends files
    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    batches = [emb.filter(F.col("vec_id") % 6 == i) for i in range(6)]
    wd_auto = str(tmp_path / "ann_auto")
    got_auto = {
        (r["vec_id"], r["batch"])
        for r in incremental_ann_ingest(
            spark, batches, cache_key="test_auto_c1", auto_compact=2,
            work_dir=wd_auto,
        ).collect()
    }
    wd_off = str(tmp_path / "ann_off")
    got_off = {
        (r["vec_id"], r["batch"])
        for r in incremental_ann_ingest(
            spark, batches, cache_key="test_auto_c2", auto_compact=None,
            work_dir=wd_off,
        ).collect()
    }
    assert got_auto == got_off and len(got_auto) == emb.count()

    def files_per_super(wd):
        out = {}
        for sdir in glob.glob(wd + "/ann_index/members/super=*"):
            out[sdir] = len(
                [f for f in os.listdir(sdir) if f.endswith(".parquet")]
            )
        return out

    per_auto = files_per_super(wd_auto)
    per_off = files_per_super(wd_off)
    # compaction runs at epoch START; the final epoch's append can add
    # one file past the threshold
    assert max(per_auto.values()) <= 2 + 1, per_auto
    # and the trigger mattered: the uncompacted run exceeds the bound
    assert max(per_off.values()) > 3, per_off

    # (b) exact gate (r11 fpart-partitioned index): files per
    # fingerprint-hash partition bounded vs one-append-per-epoch
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    dbatches = [docs.filter(F.col("doc_id") % 6 == i) for i in range(6)]
    wd_d = str(tmp_path / "ded_auto")
    accepted = incremental_ingest_dedup(
        spark, dbatches, cache_key="test_auto_d1", auto_compact=2, work_dir=wd_d
    )
    assert accepted.count() > 0
    wd_d_off = str(tmp_path / "ded_off")
    accepted_off = incremental_ingest_dedup(
        spark, dbatches, cache_key="test_auto_d2", auto_compact=None,
        work_dir=wd_d_off,
    )
    assert {tuple(r) for r in accepted.collect()} == {
        tuple(r) for r in accepted_off.collect()
    }

    def files_per_fpart(wd):
        out = {}
        for pdir in glob.glob(wd + "/index/fpart=*"):
            out[pdir] = len(
                [f for f in os.listdir(pdir) if f.endswith(".parquet")]
            )
        return out

    per_d_auto = files_per_fpart(wd_d)
    per_d_off = files_per_fpart(wd_d_off)
    # compaction runs at epoch START; the final epoch's append can add
    # one file past the threshold
    assert max(per_d_auto.values()) <= 2 + 1, per_d_auto
    assert max(per_d_off.values()) > 3, per_d_off


@pytest.mark.slow
def test_ann_gate_replay_self_hit_excluded(spark, tmp_path):
    """r11: the t13 gate's replay-convergence invariant at the operator
    level — a micro-batch retried AFTER its add_to_ann_index committed
    finds each of its vectors in the index under its own id at sim 1.0;
    the gate's same-id exclusion must not let that self-hit reject the
    batch (silent empty-epoch data loss), while a bitwise-identical
    vector under a DIFFERENT id must still reject."""
    from pyspark.sql import functions as F

    from actuarial_reserve_modelling_spark.catalog import load_table
    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_ann_index,
        ann_ivf_hier_topk_persisted,
        ivf_hier_build,
        persist_ann_index,
    )
    from .conftest import SF_SMOKE

    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 120)
    )
    path = str(tmp_path / "gate_replay" / "ann_index")
    index, supers = ivf_hier_build(emb)
    persist_ann_index(index, supers, path, embeddings=emb)

    def gate_hits(batch, k=1):
        # the exact hits expression the t13 gate uses (k+1, same-id
        # excluded, threshold on sim)
        return (
            ann_ivf_hier_topk_persisted(spark, path, None, batch, k=k + 1)
            .filter(
                (F.col("sim") >= 0.999999)
                & (F.col("query_id") != F.col("neighbor_id"))
            )
            .select(F.col("query_id").alias("vec_id"))
            .distinct()
        )

    # replay shape: the batch IS the indexed set, same ids — nothing
    # may reject (pre-fix, every vector self-hit at sim 1.0)
    assert gate_hits(emb).count() == 0
    # different-id exact twins must still reject every source, even at
    # k=1 where the self-hit would otherwise shadow them
    twins = emb.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    )
    add_to_ann_index(spark, path, twins)
    hits = {r["vec_id"] for r in gate_hits(emb).collect()}
    expect = {r["vec_id"] for r in emb.filter(F.col("vec_id") % 3 == 0).collect()}
    assert hits == expect


def test_committed_parquet_ignores_uncommitted_state(tmp_path):
    """r12 ADVICE fix: the ingest gates' 'index exists' probe must mean
    'a committed parquet file landed', not 'the directory exists' — a
    first append that died mid-job leaves only _temporary/ and must
    read as NO index so the retry re-heals instead of failing schema
    inference forever."""
    import os

    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        _committed_parquet,
    )

    root = str(tmp_path / "idx")
    assert not _committed_parquet(root)
    os.makedirs(os.path.join(root, "_temporary", "0"))
    with open(os.path.join(root, "_temporary", "0", "part-0.parquet"), "w") as f:
        f.write("junk")
    with open(os.path.join(root, "_SUCCESS"), "w"):
        pass
    with open(os.path.join(root, ".part-0.parquet.crc"), "w") as f:
        f.write("junk")
    assert not _committed_parquet(root)
    os.makedirs(os.path.join(root, "fpart=3"))
    with open(os.path.join(root, "fpart=3", "part-0.parquet"), "w") as f:
        f.write("data")
    assert _committed_parquet(root)


def test_run_overlapped_contract():
    """r14 optimization: the t11 gate's two tier appends run from two
    driver threads (guide §2.6 overlap). Pin the helper's contract —
    every action runs to completion even when another fails, the FIRST
    failure in list order is the one re-raised (deterministic, like the
    sequential form), and per-action walls land in the marks list."""
    import time

    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        _run_overlapped,
    )

    ran: list[str] = []
    marks: list[tuple[str, float]] = []
    _run_overlapped(
        [("a", lambda: ran.append("a")), ("b", lambda: ran.append("b"))],
        marks,
    )
    assert sorted(ran) == ["a", "b"]
    assert sorted(m[0] for m in marks) == ["a", "b"]
    assert all(m[1] >= 0 for m in marks)

    # both fail -> the first by LIST order is raised, regardless of
    # which thread finished first; the slow one still completed
    done: list[str] = []

    def fail_fast():
        raise ValueError("first-listed")

    def fail_slow():
        time.sleep(0.2)
        done.append("slow-ran")
        raise RuntimeError("second-listed")

    import pytest

    with pytest.raises(ValueError, match="first-listed") as excinfo:
        _run_overlapped([("x", fail_fast), ("y", fail_slow)], None)
    assert done == ["slow-ran"]
    # r15 ADVICE fix: the secondary failure is not silently discarded —
    # it rides the first exception as a note naming label and error
    notes = getattr(excinfo.value, "__notes__", [])
    assert any("'y'" in n and "second-listed" in n for n in notes)


@pytest.mark.slow
def test_incremental_ingest_dedup_seeded_resume_keeps_prior_batches(spark, tmp_path):
    """r12 ADVICE fix: re-invoking the seeded exact-dedup gate with the
    SAME persistent work_dir must NOT rewrite the seed over the index
    root (pre-fix: mode('overwrite') at entry wiped every prior batch's
    accumulated fingerprints, so resumed runs re-admitted duplicates of
    earlier batches)."""
    import shutil

    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        incremental_ingest_dedup,
    )

    work = str(tmp_path / "gate")
    seed = spark.createDataFrame([(100, "seed text")], ["doc_id", "text"])
    b0 = spark.createDataFrame(
        [(0, "fresh alpha"), (1, "seed TEXT")], ["doc_id", "text"]
    )
    got0 = {
        (r["doc_id"], r["batch"])
        for r in incremental_ingest_dedup(
            spark, [b0], cache_key="t_resume_0", seed=seed, work_dir=work
        ).collect()
    }
    assert got0 == {(0, 0)}
    # second invocation, same work_dir: batch duplicates BOTH the seed
    # and batch-0's survivor — both must still reject
    shutil.rmtree(work + "/ckpt", ignore_errors=True)
    b1 = spark.createDataFrame(
        [(5, "fresh  ALPHA"), (6, "seed text"), (7, "brand new gamma")],
        ["doc_id", "text"],
    )
    got1 = {
        (r["doc_id"], r["batch"])
        for r in incremental_ingest_dedup(
            spark, [b1], cache_key="t_resume_1", seed=seed, work_dir=work
        ).collect()
    }
    assert (7, 0) in got1
    assert not any(d in (5, 6) for d, _ in got1)


def test_vacuum_index_reclaims_orphans_only(spark, tmp_path):
    """r12: vacuum_index lists/deletes aborted-write state (_temporary,
    _tmp_* staging, superseded compacted_* generations, empty partition
    dirs) and NOTHING committed — tier queries answer identically after
    the reclaim."""
    import os

    from actuarial_reserve_modelling_spark.catalog import load_table
    from actuarial_reserve_modelling_spark.operators import dedup as D
    from actuarial_reserve_modelling_spark.sources.sinks import vacuum_index

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = corpus.limit(50).select((F.col("doc_id") + 500000).alias("doc_id"), "text")
    path = str(tmp_path / "tier")
    D.persist_dedup_index(
        D.build_dedup_index(corpus, bands=8, rows_per_band=4),
        path, bands=8, rows_per_band=4,
    )
    before = D.minhash_dedup_against_index_persisted(
        spark, path, batch, threshold=0.8
    ).collect()
    assert before
    # plant every orphan class:
    os.makedirs(os.path.join(path, "fingerprints", "_temporary", "0"))
    with open(os.path.join(path, "fingerprints", "_temporary", "0", "p.parquet"), "w") as f:
        f.write("junk")  # aborted committer scratch
    os.makedirs(os.path.join(path, "banded", "_tmp_deadbeef"))
    with open(os.path.join(path, "banded", "_tmp_deadbeef", "p.parquet"), "w") as f:
        f.write("junk")  # crash-before-rename compaction staging
    old_gen = os.path.join(path, "extras", "compacted_old")
    new_gen = os.path.join(path, "extras", "compacted_new")
    os.makedirs(old_gen); os.makedirs(new_gen)
    with open(os.path.join(old_gen, "a.parquet"), "w") as f:
        f.write("old")
    with open(os.path.join(new_gen, "a.parquet"), "w") as f:
        f.write("new")
    os.utime(old_gen, (1_600_000_000, 1_600_000_000))  # superseded generation
    empty_part = os.path.join(path, "fingerprints", "part=99999")
    os.makedirs(empty_part)  # crashed-overwrite leftover, no data file
    # dry run: listed, nothing deleted
    listed = vacuum_index(spark, path, dry_run=True)
    assert set(listed) == {
        os.path.join(path, "fingerprints", "_temporary"),
        os.path.join(path, "banded", "_tmp_deadbeef"),
        old_gen,
        empty_part,
    }
    assert all(os.path.exists(p) for p in listed)
    # real run: orphans gone, committed state + newest generation intact
    removed = vacuum_index(spark, path, dry_run=False)
    assert set(removed) == set(listed)
    assert not any(os.path.exists(p) for p in removed)
    assert os.path.exists(new_gen)
    assert os.path.exists(path + "/meta")
    after = D.minhash_dedup_against_index_persisted(
        spark, path, batch, threshold=0.8
    ).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    # idempotent: a second vacuum finds nothing
    assert vacuum_index(spark, path, dry_run=True) == []


@pytest.mark.slow
def test_ingest_gate_auto_vacuum_invariant(spark):
    """The opt-in per-epoch vacuum hook must not change the admitted
    set (it removes only unreferenced orphan state)."""
    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        incremental_ingest_dedup,
    )

    batches = [
        spark.createDataFrame(
            [(i * 10 + j, f"text {'dup' if j == 0 else i * 10 + j}")
             for j in range(4)],
            ["doc_id", "text"],
        )
        for i in range(3)
    ]
    plain = {
        (r["doc_id"], r["batch"])
        for r in incremental_ingest_dedup(
            spark, batches, cache_key="t_novac"
        ).collect()
    }
    vac = {
        (r["doc_id"], r["batch"])
        for r in incremental_ingest_dedup(
            spark, batches, cache_key="t_vac", auto_vacuum=True
        ).collect()
    }
    assert plain == vac
    assert (0, 0) in plain and (10, 1) not in plain  # cross-batch dup rejected


@pytest.mark.slow
def test_incremental_ingest_dedup_grown_seed_resume(spark, tmp_path):
    """r12 review fix: resuming a seeded gate with a GROWN seed corpus
    must index the new seed docs (pre-fix the bootstrap was skipped
    entirely when any index existed, so new seed content silently
    never rejected its duplicates); re-running with the SAME seed
    stays a no-op via the pruned anti-join."""
    import shutil

    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        incremental_ingest_dedup,
    )

    work = str(tmp_path / "gate")
    seed_v1 = spark.createDataFrame([(100, "old seed text")], ["doc_id", "text"])
    b0 = spark.createDataFrame([(0, "fresh alpha")], ["doc_id", "text"])
    got0 = {
        (r["doc_id"], r["batch"])
        for r in incremental_ingest_dedup(
            spark, [b0], cache_key="t_grow_0", seed=seed_v1, work_dir=work
        ).collect()
    }
    assert got0 == {(0, 0)}
    # seed grew: v2 = v1 + a new doc; the batch duplicates old seed,
    # new seed, AND batch-0's survivor — all three must reject
    shutil.rmtree(work + "/ckpt", ignore_errors=True)
    seed_v2 = spark.createDataFrame(
        [(100, "old seed text"), (101, "new seed text")], ["doc_id", "text"]
    )
    b1 = spark.createDataFrame(
        [(5, "old SEED text"), (6, "NEW seed   text"), (7, "fresh alpha"),
         (8, "brand new gamma")],
        ["doc_id", "text"],
    )
    got1 = {
        (r["doc_id"], r["batch"])
        for r in incremental_ingest_dedup(
            spark, [b1], cache_key="t_grow_1", seed=seed_v2, work_dir=work
        ).collect()
    }
    assert got1 == {(8, 0)}


@pytest.mark.slow
def test_ann_ingest_gate_refreshes_recall_curve(spark, tmp_path):
    """r14: refresh_recall_curve=N re-audits the tier every N batches
    post-append, so nprobe="auto" consumers route on a curve measured
    against the INGESTED corpus — and the admitted set is unchanged by
    the refresh (it is observability, not admission logic)."""
    from pyspark.sql import functions as F

    from actuarial_reserve_modelling_spark.catalog import load_table
    from actuarial_reserve_modelling_spark.operators.similarity import (
        read_recall_stats,
    )
    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        incremental_ann_ingest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    batches = [emb.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    work = str(tmp_path / "gate")
    got = {
        (r["vec_id"], r["batch"])
        for r in incremental_ann_ingest(
            spark,
            batches,
            cache_key="test_ann_ingest_recall",
            work_dir=work,
            refresh_recall_curve=2,
        ).collect()
    }
    expect = {(r["vec_id"], r["vec_id"] % 3) for r in emb.collect()}
    assert got == expect
    curve = read_recall_stats(spark, work + "/ann_index")
    assert curve is not None and [c["probe"] for c in curve] == [1, 2, 4]
    # the curve was measured after batch 2's append: its corpus stamp
    # covers at least the first two batches' admitted rows
    assert curve[0]["n_corpus"] >= batches[0].count() + batches[1].count()
    # a second call on the same work_dir (its own cache_key, so its own
    # checkpoint and sink epochs) resumes from the persisted index: fresh
    # vectors are admitted, exact twins of the first call's rows are
    # rejected, and so are twins of the fresh ones one batch later, which
    # only the resumed call's batch-0 append can catch
    src = emb.filter(F.col("vec_id") % 10 == 0)
    fresh = src.select(
        (F.col("vec_id") + 500_000).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )

    def shifted(frame, offset):
        return frame.select((F.col("vec_id") + offset).alias("vec_id"), "embedding")

    resumed = {
        (r["vec_id"], r["batch"])
        for r in incremental_ann_ingest(
            spark,
            [fresh.unionByName(shifted(src, 400_000)), shifted(fresh, 100_000)],
            cache_key="test_ann_ingest_recall_resume",
            work_dir=work,
        ).collect()
        if r["vec_id"] >= 400_000
    }
    assert resumed == {(r["vec_id"], 0) for r in fresh.collect()}
    # the first call's admitted rows are still in the work dir's sink
    sunk = {
        (r["vec_id"], r["batch"])
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(work + "/admitted")
        .collect()
    }
    assert expect <= sunk
