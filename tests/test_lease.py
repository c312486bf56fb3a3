"""Single-writer lease tests (r13, VERDICT r12 task 1): a second
concurrent writer on a persisted tier refuses LOUDLY, stale (dead-
writer) leases are broken, exclusion is hierarchical in both
directions, and the advisory stats swap is atomic — tier answers and
stats stay exact after a refused interleaving."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from actuarial_reserve_modelling_spark.sources.lease import (
    LEASE_NAME,
    ConcurrentWriterError,
    writer_lease,
)


def _plant_foreign_lease(root: str, age_sec: float = 0.0) -> str:
    """Simulate ANOTHER process's live lease: the per-process reentry
    table only knows leases acquired through writer_lease in THIS
    process, so a hand-written file is exactly what a foreign holder
    looks like."""
    os.makedirs(root, exist_ok=True)
    lp = os.path.join(root, LEASE_NAME)
    with open(lp, "w") as fh:
        fh.write(
            json.dumps(
                {"writer_id": "foreign-gate", "pid": 99999, "host": "elsewhere",
                 "token": "deadbeef"}
            )
        )
    if age_sec:
        t = time.time() - age_sec
        os.utime(lp, (t, t))
    return lp


def test_second_writer_refuses_and_tier_stays_exact(spark, tmp_path):
    """The verdict's acceptance scenario: writer B attempts maintenance
    while writer A holds the tier — B refuses loudly; after A releases,
    B's add lands and the tier's answers and advisory stats are
    exact."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_vecsig_index,
        persist_vecsig_index,
        read_index_stats,
    )

    path = str(tmp_path / "tier")
    vecs = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array([(F.col("id") * (i + 1) % 7).cast("double") + 0.1 for i in range(8)]).alias(
            "embedding"
        ),
    )
    persist_vecsig_index(vecs, path, num_planes=4, num_tables=2, dim=8)
    batch = spark.range(40, 50).select(
        F.col("id").alias("vec_id"),
        F.array([(F.col("id") * (i + 2) % 5).cast("double") + 0.2 for i in range(8)]).alias(
            "embedding"
        ),
    )

    lp = _plant_foreign_lease(path)
    with pytest.raises(ConcurrentWriterError, match="foreign-gate"):
        add_to_vecsig_index(spark, path, batch)
    # the refused writer must not have touched the tier
    assert read_index_stats(spark, path) == 40
    assert spark.read.parquet(path + "/vectors").count() == 40

    os.unlink(lp)  # writer A finished
    add_to_vecsig_index(spark, path, batch)
    assert read_index_stats(spark, path) == 50
    got = {
        r["vec_id"] for r in spark.read.parquet(path + "/vectors").collect()
    }
    assert got == set(range(50))
    # no lease left behind by the successful writer
    assert not os.path.exists(lp)


def test_stale_dead_writer_lease_is_broken(tmp_path):
    root = str(tmp_path / "t")
    _plant_foreign_lease(root, age_sec=3600.0)
    with writer_lease(root, ttl=600.0):
        pass  # acquired by breaking the stale lease
    assert not os.path.exists(os.path.join(root, LEASE_NAME))


def test_fresh_foreign_lease_refuses_with_holder_identity(tmp_path):
    root = str(tmp_path / "t")
    _plant_foreign_lease(root)
    with pytest.raises(ConcurrentWriterError, match="foreign-gate"):
        with writer_lease(root):
            pass
    # refusing must not have destroyed the holder's lease
    assert os.path.exists(os.path.join(root, LEASE_NAME))


def test_reentrant_same_process(tmp_path):
    root = str(tmp_path / "t")
    with writer_lease(root):
        with writer_lease(root):
            assert os.path.exists(os.path.join(root, LEASE_NAME))
        # inner exit keeps the lease held
        assert os.path.exists(os.path.join(root, LEASE_NAME))
    assert not os.path.exists(os.path.join(root, LEASE_NAME))


def test_ancestor_lease_blocks_child_acquire(tmp_path):
    work = str(tmp_path / "work")
    _plant_foreign_lease(work)
    with pytest.raises(ConcurrentWriterError, match="ancestor"):
        with writer_lease(os.path.join(work, "idx")):
            pass
    # ...but the same process HOLDING the ancestor nests fine
    os.unlink(os.path.join(work, LEASE_NAME))
    with writer_lease(work):
        with writer_lease(os.path.join(work, "idx")):
            pass


def test_descendant_lease_blocks_parent_acquire(tmp_path):
    work = str(tmp_path / "work")
    _plant_foreign_lease(os.path.join(work, "idx"))
    with pytest.raises(ConcurrentWriterError, match="descendant"):
        with writer_lease(work):
            pass
    # the refused acquire must not leave its own lease behind
    assert not os.path.exists(os.path.join(work, LEASE_NAME))


def test_vacuum_refuses_over_live_writer(spark, tmp_path):
    from actuarial_reserve_modelling_spark.sources.sinks import vacuum_index

    work = str(tmp_path / "work")
    idx = os.path.join(work, "idx")
    os.makedirs(os.path.join(idx, "_temporary"))  # would-be orphan
    _plant_foreign_lease(idx)
    with pytest.raises(ConcurrentWriterError):
        vacuum_index(None, work, dry_run=False)
    # dry-run stays lock-free: it lists without deleting
    assert vacuum_index(None, work, dry_run=True)
    os.unlink(os.path.join(idx, LEASE_NAME))
    removed = vacuum_index(None, work, dry_run=False)
    assert removed and not os.path.exists(os.path.join(idx, "_temporary"))


def test_stats_swap_is_atomic_and_exact(spark, tmp_path):
    """The rewrite never leaves a torn stats/ visible: after each swap
    the live dataset reads back the exact new count and no staging
    (_tmp_stats_*) residue survives."""
    from actuarial_reserve_modelling_spark.sources.tiers import (
        _write_index_stats,
        read_index_stats,
    )

    path = str(tmp_path / "tier")
    os.makedirs(path)
    _write_index_stats(spark, path, 123)
    assert read_index_stats(spark, path) == 123
    _write_index_stats(spark, path, 456)
    assert read_index_stats(spark, path) == 456
    leftovers = [e for e in os.listdir(path) if e.startswith("_tmp_stats")]
    assert leftovers == []


def test_lease_lost_midway_raises_on_release(tmp_path):
    root = str(tmp_path / "t")
    ctx = writer_lease(root, ttl=600.0)
    ctx.__enter__()
    # simulate a TTL-expiry steal: replace the lease with a foreign one
    _plant_foreign_lease(root)
    with pytest.raises(ConcurrentWriterError, match="lost"):
        ctx.__exit__(None, None, None)
    os.unlink(os.path.join(root, LEASE_NAME))


def test_gate_composition_under_lease(spark, tmp_path):
    """A gate-shaped sequence (persist → add → compact → deleting
    vacuum) composes without self-conflict — every step is leased, the
    vacuum's descendant scan skips our own held leases."""
    from actuarial_reserve_modelling_spark.operators.dedup import (
        add_to_dedup_index,
        build_dedup_index,
        compact_dedup_index,
        persist_dedup_index,
    )
    from actuarial_reserve_modelling_spark.sources.sinks import vacuum_index

    work = str(tmp_path / "work")
    idx = os.path.join(work, "idx")
    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta text number "), F.col("id")).alias("text"),
    )
    base = build_dedup_index(docs, bands=4, rows_per_band=4)
    persist_dedup_index(base, idx, bands=4, rows_per_band=4)
    more = spark.range(30, 40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("epsilon zeta eta theta words "), F.col("id")).alias("text"),
    )
    add_to_dedup_index(spark, idx, more)
    compact_dedup_index(spark, idx)
    vacuum_index(spark, work, dry_run=False)
    n = spark.read.parquet(idx + "/fingerprints").select("doc_id").distinct().count()
    assert n == 40
    assert not os.path.exists(os.path.join(idx, LEASE_NAME))


@pytest.mark.slow
def test_gate_step_refuses_under_foreign_work_lease(spark, tmp_path):
    """r13: each gate batch holds the work-dir lease across its whole
    check→sink→append step, so a second gate process on the same tier
    fails LOUDLY instead of admitting duplicates past an in-flight
    append. Simulated by a foreign lease on the work dir."""
    from pyspark.errors import StreamingQueryException

    from actuarial_reserve_modelling_spark.streaming.pipeline import (
        incremental_ingest_dedup,
    )

    work = str(tmp_path / "gate")
    b0 = spark.createDataFrame(
        [(0, "alpha text"), (1, "beta text")], ["doc_id", "text"]
    )
    lp = _plant_foreign_lease(work)
    with pytest.raises(StreamingQueryException, match="writer lease"):
        incremental_ingest_dedup(
            spark, [b0], cache_key="t_lease_gate_0", work_dir=work
        )
    os.unlink(lp)
    import shutil

    shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)
    got = {
        r["doc_id"]
        for r in incremental_ingest_dedup(
            spark, [b0], cache_key="t_lease_gate_1", work_dir=work
        ).collect()
    }
    assert got == {0, 1}


def test_tier_health_summary(spark, tmp_path):
    """tier_health reports datasets, meta, advisory count, lease holder
    liveness, and the dry-run orphan list — read-only, no lease taken."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        persist_vecsig_index,
    )
    from actuarial_reserve_modelling_spark.sources.health import tier_health

    path = str(tmp_path / "tier")
    vecs = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array([(F.col("id") * (i + 1) % 9).cast("double") + 0.3 for i in range(8)]).alias(
            "embedding"
        ),
    )
    persist_vecsig_index(vecs, path, num_planes=4, num_tables=2, dim=8)
    os.makedirs(os.path.join(path, "sigs", "_temporary", "0"))  # orphan

    h = tier_health(spark, path)
    assert set(h["datasets"]) >= {"sigs", "vectors", "meta", "stats"}
    assert h["datasets"]["vectors"]["data_files"] >= 1
    assert h["datasets"]["vectors"]["partitions"] >= 1
    assert h["meta"]["num_planes"] == 4
    assert h["stats_n_rows"] == 50
    assert h["writer"] is None  # read path takes no lease
    assert any("_temporary" in o for o in h["orphans"])

    # live and dead holders are distinguished by heartbeat age
    lp = _plant_foreign_lease(path)
    assert tier_health(spark, path)["writer"]["live"] is True
    t = time.time() - 3600
    os.utime(lp, (t, t))
    w = tier_health(spark, path)["writer"]
    assert w["live"] is False and w["writer_id"] == "foreign-gate"


def test_unregistered_object_store_scheme_fails_loudly(tmp_path):
    """r13 verdict #4: the single-writer guarantee must never silently
    evaporate on non-POSIX storage. An unregistered scheme raises at
    acquire (pre-r14 it was a silent no-op); an explicit env opt-in
    restores the unguarded mode as a greppable decision."""
    import pytest

    from actuarial_reserve_modelling_spark.sources.lease import (
        UnsupportedStorageError,
        writer_lease,
    )

    with pytest.raises(UnsupportedStorageError, match="register_lease_backend"):
        with writer_lease("s3://bucket/tier"):
            pass

    os.environ["ARM_LEASE_UNGUARDED_SCHEMES"] = "s3"
    try:
        with writer_lease("s3://bucket/tier"):
            pass  # explicit opt-in: documented no-op
    finally:
        del os.environ["ARM_LEASE_UNGUARDED_SCHEMES"]


def test_backend_without_atomic_create_refuses(tmp_path):
    """A registered backend that cannot provide an exclusive create
    (e.g. a naive read-then-write object-store locker) is refused up
    front — leasing without it would only PRETEND to exclude."""
    import pytest

    from actuarial_reserve_modelling_spark.sources import lease as lease_mod
    from actuarial_reserve_modelling_spark.sources.lease import (
        LeaseBackend,
        UnsupportedStorageError,
        register_lease_backend,
        writer_lease,
    )

    class NoAtomicCreate(LeaseBackend):
        atomic_create = False

    register_lease_backend("fakestore", NoAtomicCreate())
    try:
        with pytest.raises(UnsupportedStorageError, match="atomic_create"):
            with writer_lease("fakestore://bucket/tier"):
                pass
    finally:
        lease_mod._BACKENDS.pop("fakestore", None)


def test_non_atomic_rename_backend_degrades_loudly_on_stale(tmp_path):
    """The non-atomic-rename double (r13 verdict #4): a backend that
    emulates an object store's copy+delete 'rename' must NOT be used to
    break a stale lease — two breakers could both claim the win and
    interleave writers. The lease machinery refuses with an actionable
    error instead; fresh-holder refusal and normal acquire/release are
    unaffected."""
    import json as _json

    import pytest

    from actuarial_reserve_modelling_spark.sources import lease as lease_mod
    from actuarial_reserve_modelling_spark.sources.lease import (
        ConcurrentWriterError,
        PosixLeaseBackend,
        register_lease_backend,
        writer_lease,
    )

    class CopyDeleteRename(PosixLeaseBackend):
        """POSIX primitives except rename: copy+delete, as S3-likes do.
        Declares the capability honestly; roots map to a local dir."""

        atomic_rename = False

        def __init__(self, base):
            self.base = base

        def _local(self, path):
            # ancestor walks can shorten "fakes3://b/t" to "fakes3:/",
            # so strip the scheme prefix tolerantly
            rest = path.split("://", 1)[1] if "://" in path else path.split(":", 1)[-1]
            return os.path.join(self.base, rest.lstrip("/"))

        def makedirs(self, root):
            os.makedirs(self._local(root), exist_ok=True)

        def create_exclusive(self, path, payload):
            return super().create_exclusive(self._local(path), payload)

        def read(self, path):
            return super().read(self._local(path))

        def age_seconds(self, path):
            return super().age_seconds(self._local(path))

        def touch(self, path):
            super().touch(self._local(path))

        def unlink(self, path):
            super().unlink(self._local(path))

        def break_stale(self, path):
            raise AssertionError("non-atomic rename must never be used")

        def lease_dirs(self, root, max_depth=None):
            yield from super().lease_dirs(self._local(root), max_depth)

    backend = CopyDeleteRename(str(tmp_path))
    register_lease_backend("fakes3", backend)
    root = "fakes3://bucket/tier"
    try:
        # normal acquire/release works (atomic create is provided)
        with writer_lease(root):
            assert os.path.exists(
                os.path.join(str(tmp_path), "bucket/tier/_writer_lease")
            )
        # plant a STALE foreign lease: breaking it needs atomic rename,
        # which this storage lacks — loud refusal, zero break attempts
        lp = os.path.join(str(tmp_path), "bucket/tier/_writer_lease")
        with open(lp, "w") as fh:
            fh.write(_json.dumps({"writer_id": "dead-writer", "pid": 1}))
        t = time.time() - 3600
        os.utime(lp, (t, t))
        with pytest.raises(ConcurrentWriterError, match="atomic rename"):
            with writer_lease(root, ttl=10.0):
                pass
        assert os.path.exists(lp)  # nothing touched the stale lease
        # a FRESH foreign holder still refuses with identity, same as POSIX
        os.utime(lp)
        with pytest.raises(ConcurrentWriterError, match="dead-writer"):
            with writer_lease(root, ttl=600.0):
                pass
    finally:
        lease_mod._BACKENDS.pop("fakes3", None)
