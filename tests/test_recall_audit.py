"""ann_index_recall_audit (r13): planted-twin floor at 1.0, bounded
deterministic sampling, and self-exclusion on both sides."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


@pytest.fixture(scope="module")
def tier(spark, tmp_path_factory):
    """A persisted vector-bearing tier over clustered vectors with an
    exact twin planted for every 20th vector."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        ivf_hier_build,
        persist_ann_index,
    )

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((16, 16))
    assign = rng.integers(0, 16, size=800)
    pts = centers[assign] + 0.1 * rng.standard_normal((800, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)], SCHEMA
    ).repartition(8)
    twins = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twins).localCheckpoint()
    path = str(tmp_path_factory.mktemp("audit")) + "/ann_index"
    index, super_cent = ivf_hier_build(corpus)
    persist_ann_index(index, super_cent, path, embeddings=corpus)
    return path, corpus


def test_planted_twin_recall_is_exactly_one(spark, tier):
    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_index_recall_audit,
    )

    path, corpus = tier
    planted = corpus.filter(F.col("vec_id") >= 100_000)
    rows = ann_index_recall_audit(spark, path, k=1, queries=planted).collect()
    assert len(rows) == planted.count()
    assert all(r["recall_at_k"] == 1.0 for r in rows)
    assert all(r["n_hits"] == 1 and r["exact_n"] == 1 for r in rows)


@pytest.mark.slow
def test_sampled_audit_bounded_and_deterministic(spark, tier):
    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_index_recall_audit,
    )

    path, _corpus = tier
    a = ann_index_recall_audit(spark, path, n_sample=32, k=5).collect()
    b = ann_index_recall_audit(spark, path, n_sample=32, k=5).collect()
    assert len(a) == 32
    key = lambda r: r["query_id"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)
    for r in a:
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert r["exact_n"] == 5
        assert r["n_probed_supers"] >= 1
        # self-exclusion: a sampled query never counts itself as a hit
        assert r["n_hits"] <= r["exact_n"]


@pytest.mark.slow
def test_clustered_recall_improves_with_probes(spark, tier):
    """The recall/nprobe trade the audit exists to expose: more probed
    supers can only add candidates, so recall is non-decreasing."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_index_recall_audit,
    )

    path, _corpus = tier

    def mean_recall(nprobe):
        r = (
            ann_index_recall_audit(
                spark, path, n_sample=48, k=5, nprobe_super=nprobe
            )
            .agg(F.avg("recall_at_k").alias("m"))
            .first()["m"]
        )
        return float(r)

    r1, r4 = mean_recall(1), mean_recall(4)
    assert r4 >= r1
    assert r4 >= 0.9  # clustered data: the index can exploit structure


@pytest.mark.slow
def test_slim_layout_requires_embeddings(spark, tier, tmp_path):
    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_index_recall_audit,
        ivf_hier_build,
        persist_ann_index,
    )

    _path, corpus = tier
    slim = str(tmp_path) + "/slim_index"
    index, super_cent = ivf_hier_build(corpus)
    persist_ann_index(index, super_cent, slim)  # no embeddings= → slim
    with pytest.raises(ValueError, match="slim layout"):
        ann_index_recall_audit(spark, slim, k=1)
    # and the embeddings= escape hatch works
    rows = ann_index_recall_audit(
        spark, slim, k=1, embeddings=corpus,
        queries=corpus.filter(F.col("vec_id") >= 100_000),
    ).collect()
    assert all(r["recall_at_k"] == 1.0 for r in rows)


@pytest.fixture(scope="module")
def pq_tier(spark, tmp_path_factory):
    """IVF-PQ tier over ISOTROPIC vectors + planted twins. Deliberately
    NOT the clustered fixture: PQ's ADC ties break by ascending id
    among code-sharers, and a dense cluster makes whole neighborhoods
    share code words — the planted twin can then be crowded out of a
    bounded shortlist by lower-id code-sharers (the documented l3h
    empirical caveat). Diverse codes make the twin's exact code match
    the strict ADC maximum, which is the structural property the
    planted floor tests."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        persist_ivfpq_index,
    )

    rng = np.random.default_rng(13)
    pts = rng.standard_normal((800, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)], SCHEMA
    ).repartition(8)
    twins = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twins).localCheckpoint()
    path = str(tmp_path_factory.mktemp("pq_audit")) + "/ivfpq_index"
    persist_ivfpq_index(corpus, path, n_centroids=8, m_subspaces=4, n_codes=16)
    return path, corpus


def test_ivfpq_planted_twin_recall_is_one(spark, pq_tier):
    """The IVF-PQ tier's audit analogue: a planted exact twin encodes
    to its source's code word and hard-routes to the same cluster, so
    recall@1 on the planted set is exactly 1.0 (the l3h/l3i argument
    through the audit plumbing)."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        ivfpq_index_recall_audit,
    )

    path, corpus = pq_tier
    planted = corpus.filter(F.col("vec_id") >= 100_000)
    rows = ivfpq_index_recall_audit(
        spark, path, k=1, queries=planted, rerank=32
    ).collect()
    assert len(rows) == planted.count()
    assert all(r["recall_at_k"] == 1.0 for r in rows)


def test_ivfpq_sampled_audit_shows_quantization_trade(spark, pq_tier):
    """Sampled recall through the PQ tier is valid (0..1, deterministic)
    and the probe column reflects nprobe — the per-corpus visibility of
    the 32x-compression/recall trade the audit exists to expose."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        ivfpq_index_recall_audit,
    )

    path, _corpus = pq_tier
    a = ivfpq_index_recall_audit(spark, path, n_sample=24, k=5, nprobe=4).collect()
    b = ivfpq_index_recall_audit(spark, path, n_sample=24, k=5, nprobe=4).collect()
    key = lambda r: r["query_id"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)
    assert len(a) == 24
    for r in a:
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert 1 <= r["n_probed_supers"] <= 4


def test_persist_recall_audit_and_auto_probe_clustered(spark, tier):
    """r13 verdict #6: persist the measured recall curve into the
    tier's recall_stats/ and default nprobe from it — a clustered
    corpus reaches the target at 1-2 probes, so "auto" must pick low
    and answer identically to the explicit setting."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        _auto_probe,
        ann_ivf_hier_topk_persisted,
        persist_recall_audit,
        read_recall_stats,
    )

    path, corpus = tier
    curve = persist_recall_audit(spark, path, probe_settings=(1, 2, 4), n_sample=32, k=5)
    assert [c["probe"] for c in curve] == [1, 2, 4]
    assert read_recall_stats(spark, path) == curve
    # recall is non-decreasing in probes, and this clustered corpus
    # reaches the 0.95 target by probe 2 at the latest
    recalls = [c["mean_recall"] for c in curve]
    assert recalls == sorted(recalls)
    chosen = _auto_probe(spark, path, "test", 0.95, fallback=4)
    assert chosen <= 2
    queries = corpus.filter(F.col("vec_id") % 40 == 1)
    auto = ann_ivf_hier_topk_persisted(
        spark, path, None, queries, k=3, nprobe_super="auto"
    )
    explicit = ann_ivf_hier_topk_persisted(
        spark, path, None, queries, k=3, nprobe_super=chosen
    )
    assert auto.exceptAll(explicit).count() == 0
    assert explicit.exceptAll(auto).count() == 0


@pytest.mark.slow
def test_auto_probe_isotropic_warns_with_curve(spark, tmp_path):
    """An isotropic corpus plateaus below the recall target at every
    measured setting — "auto" must surface the measured curve in a
    warning (ANN-hostile distribution) and still answer, using the
    best measured setting."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_ivf_hier_topk_persisted,
        ivf_hier_build,
        persist_ann_index,
        persist_recall_audit,
    )

    rng = np.random.default_rng(3)
    iso = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(rng.standard_normal((400, 16)))],
        SCHEMA,
    ).repartition(8).localCheckpoint()
    path = str(tmp_path) + "/iso_tier"
    index, sup = ivf_hier_build(iso)
    persist_ann_index(index, sup, path, embeddings=iso)
    curve = persist_recall_audit(spark, path, probe_settings=(1, 2), n_sample=32, k=5)
    assert max(c["mean_recall"] for c in curve) < 0.95
    queries = iso.filter(F.col("vec_id") % 40 == 1)
    with pytest.warns(UserWarning, match="plateaus below target"):
        out = ann_ivf_hier_topk_persisted(
            spark, path, None, queries, k=3, nprobe_super="auto"
        )
        n = out.count()
    assert n > 0


def test_auto_probe_without_audit_warns_and_falls_back(spark, tier):
    """nprobe="auto" on a tier with no persisted curve warns (run
    persist_recall_audit) and falls back to the static default."""
    import shutil

    from actuarial_reserve_modelling_spark.operators.similarity import (
        RECALL_STATS_DS,
        _auto_probe,
    )

    path, _corpus = tier
    shutil.rmtree(f"{path}/{RECALL_STATS_DS}", ignore_errors=True)
    with pytest.warns(UserWarning, match="no persisted recall audit"):
        assert _auto_probe(spark, path, "test", 0.95, fallback=4) == 4


@pytest.mark.slow
def test_ivfpq_auto_probe_clustered_defaults_low(spark, tmp_path):
    """The IVF-PQ tier shares the persisted-curve defaulting: a
    clustered corpus reaches target at probe 1-2 despite the
    quantization loss, and the auto answer equals the explicit one.
    (Builds its own clustered tier — the module pq_tier fixture is
    deliberately isotropic for the planted-floor tests.)"""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        _auto_probe,
        ann_ivfpq_topk_persisted,
        persist_ivfpq_index,
        persist_recall_audit,
    )

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((16, 16))
    assign = rng.integers(0, 16, size=800)
    pts = centers[assign] + 0.1 * rng.standard_normal((800, 16))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)], SCHEMA
    ).repartition(8).localCheckpoint()
    path = str(tmp_path) + "/pq_clustered"
    persist_ivfpq_index(corpus, path, n_centroids=16, m_subspaces=8, n_codes=16)
    curve = persist_recall_audit(spark, path, probe_settings=(1, 2, 4), n_sample=32, k=5)
    assert [c["probe"] for c in curve] == [1, 2, 4]
    chosen = _auto_probe(spark, path, "test", 0.95, fallback=4)
    assert chosen <= 2
    queries = corpus.filter(F.col("vec_id") % 40 == 1)
    auto = ann_ivfpq_topk_persisted(spark, path, None, queries, k=3, nprobe="auto")
    explicit = ann_ivfpq_topk_persisted(spark, path, None, queries, k=3, nprobe=chosen)
    assert auto.exceptAll(explicit).count() == 0
    assert explicit.exceptAll(auto).count() == 0


def test_auto_probe_warns_when_curve_stale_vs_corpus(spark, tier):
    """The persisted curve stamps the corpus size it was measured at;
    a tier that has since grown/shrunk ≥2× triggers a staleness
    warning on auto (using the curve meanwhile — advisory)."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        _auto_probe,
        persist_recall_audit,
        read_recall_stats,
    )
    from actuarial_reserve_modelling_spark.sources.tiers import _write_index_stats

    path, _corpus = tier
    curve = persist_recall_audit(spark, path, probe_settings=(1,), n_sample=16, k=3)
    assert curve[0]["n_corpus"] > 0
    assert read_recall_stats(spark, path)[0]["n_corpus"] == curve[0]["n_corpus"]
    # ops surface: tier_health exposes the persisted curve
    from actuarial_reserve_modelling_spark.sources.health import tier_health

    assert tier_health(spark, path)["recall_curve"] == curve
    _write_index_stats(spark, path, curve[0]["n_corpus"] * 3)
    try:
        with pytest.warns(UserWarning, match="re-run persist_recall_audit"):
            _auto_probe(spark, path, "test", 0.5, fallback=4)
    finally:
        _write_index_stats(spark, path, curve[0]["n_corpus"])
