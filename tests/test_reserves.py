"""Milestone-0 acceptance (SURVEY §5.2-2): analytic tolerance, seed
reproducibility, partition invariance, and the CSV contract."""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pytest
from pyspark.sql import DataFrame

from actuarial_reserve_modelling_spark.catalog import read_policies_csv
from actuarial_reserve_modelling_spark.functions.reserves import (
    _rekeyed_philox,
    analytic_moments,
    simulate_reserves,
    total_reserves,
)

from .conftest import write_policy_csvs

N_TRIALS = 2_000  # enough for a tight CI at test speed; bench uses 10_000


@pytest.fixture(scope="module")
def policies_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("policies")
    return write_policy_csvs(d)


def test_total_matches_analytic_mean(spark, policies_dir):
    path, terms = policies_dir
    df = read_policies_csv(spark, path)
    total = total_reserves(df, n_trials=N_TRIALS).collect()[0]["total_reserves"]
    mean, var = analytic_moments(terms)
    # estimator sigma = sqrt(Var(per-trial portfolio sum) / N)
    sigma = math.sqrt(var / N_TRIALS)
    assert abs(total - mean) < 5 * sigma, (total, mean, sigma)


def test_seed_reproducibility(spark, policies_dir):
    path, _ = policies_dir
    df = read_policies_csv(spark, path)
    a = total_reserves(df, n_trials=200, seed=7).collect()[0][0]
    b = total_reserves(df, n_trials=200, seed=7).collect()[0][0]
    c = total_reserves(df, n_trials=200, seed=8).collect()[0][0]
    assert a == b
    assert a != c


def test_partition_invariance(spark, policies_dir):
    """The reference's 2/5/10-worker invariant (test-*-workers.json),
    which thread_rng() (main.rs:67) silently violates — ours holds."""
    path, _ = policies_dir
    df = read_policies_csv(spark, path)
    a = total_reserves(df.repartition(2), n_trials=200).collect()[0][0]
    b = total_reserves(df.repartition(10), n_trials=200).collect()[0][0]
    assert a == b

    # one row per Arrow batch: per policy, bit-identical values — no
    # generator state leaks from one row into the next
    def per_policy():
        return {r["id"]: r["mean_reserve"] for r in simulate_reserves(df, n_trials=200).collect()}

    base = per_policy()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        assert per_policy() == base
    finally:
        spark.conf.set(conf, default)


def test_per_policy_schema_and_determinism(spark, policies_dir):
    path, _ = policies_dir
    df = read_policies_csv(spark, path)
    res = simulate_reserves(df, n_trials=100)
    assert [f.name for f in res.schema.fields] == ["id", "mean_reserve"]
    rows = {r["id"]: r["mean_reserve"] for r in res.collect()}
    rows2 = {r["id"]: r["mean_reserve"] for r in simulate_reserves(df, n_trials=100).collect()}
    assert rows == rows2
    assert len(rows) == 200


def test_rekeyed_philox_restarts_like_a_fresh_generator():
    """Re-keying must leave no state behind: after draws that fill the
    output buffer and cache a uint32, the next key's stream equals that of
    a newly built ``Generator(Philox(key=k))``."""
    rng, rekey = _rekeyed_philox()

    def draws(g):
        return (
            g.integers(0, 1 << 31, dtype=np.int32),  # caches a uint32
            g.random(),
            g.negative_binomial(1_000, 0.4),
            g.normal(0.0, 1.0),
        )

    for k in (7, 2**64 - 1, 7, 0):
        rekey(k)
        assert draws(rng) == draws(np.random.Generator(np.random.Philox(key=k)))


@pytest.mark.parametrize("years", [1, 5, 30])
def test_per_policy_mean_matches_closed_form(spark, years):
    """Per policy, E[mean_reserve] = μ·E[n] (``analytic_moments`` of one
    term), checked on the mean over many (seed, id) streams within 5σ of
    its standard error."""
    term = 365.0 * years
    n_trials, n_ids, seeds = 100, 250, range(8)
    pf = spark.createDataFrame(
        [(f"T{years}-{j}", term) for j in range(n_ids)], "id string, term double"
    )
    runs = [simulate_reserves(pf, n_trials=n_trials, seed=s) for s in seeds]
    values = [r["mean_reserve"] for r in reduce(DataFrame.unionAll, runs).collect()]
    assert len(values) == n_ids * len(seeds)
    mean, var = analytic_moments([term])
    se = math.sqrt(var / n_trials / len(values))
    assert abs(float(np.mean(values)) - mean) < 5 * se, (np.mean(values), mean, se)


def test_csv_failfast_on_malformed(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text(
        "id,age,gender,smoking_status,occupation,policy_type,effective_date,term,premium\n"
        "P1,notanumber,M,s,o,t,2020-01-01,alsobad,x\n"
    )
    df = read_policies_csv(spark, str(p))
    with pytest.raises(Exception):
        df.collect()


def test_sql_mc_matches_analytic_and_invariant(spark, policies_dir):
    """The pure-JVM Monte Carlo (simulate_reserves_sql) passes the same
    gates as the Arrow kernel: analytic tolerance, seed determinism,
    partition invariance."""
    from pyspark.sql import functions as F

    from actuarial_reserve_modelling_spark.functions.reserves import (
        simulate_reserves_sql,
    )

    path, terms = policies_dir
    df = read_policies_csv(spark, path)
    total = (
        simulate_reserves_sql(df, n_trials=N_TRIALS)
        .agg(F.sum(F.col("mean_reserve").cast("decimal(38,12)")).cast("double"))
        .collect()[0][0]
    )
    mean, var = analytic_moments(terms)
    sigma = math.sqrt(var / N_TRIALS)
    assert abs(total - mean) < 5 * sigma, (total, mean, sigma)

    a = sorted(simulate_reserves_sql(df.repartition(2), n_trials=100, seed=7).collect())
    b = sorted(simulate_reserves_sql(df.repartition(10), n_trials=100, seed=7).collect())
    c = sorted(simulate_reserves_sql(df.repartition(2), n_trials=100, seed=8).collect())
    assert a == b
    assert a != c


def test_risk_measures_clt_tolerance_and_ordering(spark, policies_dir):
    """VaR/TVaR from the trial distribution: p95/p99 within CLT
    tolerance of the analytic normal approximation, and the ordering
    invariants (TVaR >= VaR, p99 >= p95) hold."""
    import math as m

    from actuarial_reserve_modelling_spark.functions.reserves import (
        reserve_risk_measures,
    )

    path, terms = policies_dir
    df = read_policies_csv(spark, path)
    rows = {
        r["q"]: r
        for r in reserve_risk_measures(df, n_trials=N_TRIALS, seed=42).collect()
    }
    mean, var = analytic_moments(terms)
    sigma = m.sqrt(var)
    for q, z in ((0.95, 1.6449), (0.99, 2.3263)):
        got = rows[q]["var_value"]
        approx = mean + z * sigma
        assert abs(got - approx) < 0.8 * sigma, (q, got, approx, sigma)
        assert rows[q]["tvar_value"] >= rows[q]["var_value"]
    assert rows[0.99]["var_value"] >= rows[0.95]["var_value"]
