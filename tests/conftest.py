"""Shared test fixtures: one SparkSession per test run, policy CSVs."""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
import uuid

import numpy as np
import pytest

from actuarial_reserve_modelling_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="arm-spark-tests", shuffle_partitions=8)
    yield spark


_MARKER = "job-count-marker-"


def status_jobs(spark) -> list[dict]:
    """Every job the status REST API lists, once its store has caught up:
    a marker job is fired and waited for, and the listener bus delivers
    events in order, so every job submitted before it is listed."""
    sc = spark.sparkContext
    marker = _MARKER + uuid.uuid4().hex
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", marker)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.job.description", prev)
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"
    for _ in range(300):
        with urllib.request.urlopen(url, timeout=30) as r:
            jobs = json.load(r)
        if any(j.get("description") == marker and j["status"] == "SUCCEEDED" for j in jobs):
            return jobs
        time.sleep(0.1)
    raise AssertionError("the status API never listed the marker job")


@contextlib.contextmanager
def fired_jobs(spark):
    """Collects the status-API records of the Spark jobs fired inside the
    block, by any thread (a stream's jobs included)."""
    last = max(j["jobId"] for j in status_jobs(spark))
    jobs: list[dict] = []
    yield jobs
    jobs.extend(
        j
        for j in status_jobs(spark)
        if j["jobId"] > last and not (j.get("description") or "").startswith(_MARKER)
    )


def write_policy_csvs(tmpdir, n_files: int = 10, rows_per_file: int = 20, seed: int = 42):
    """Group-A ``policies`` fixture (FIXTURES.md): 10 CSVs mirroring the
    reference layout (.MISSING_LARGE_BLOBS policy_1..10.csv)."""
    rng = np.random.default_rng(seed)
    header = "id,age,gender,smoking_status,occupation,policy_type,effective_date,term,premium"
    paths, all_terms = [], []
    k = 0
    for f in range(1, n_files + 1):
        lines = [header]
        for _ in range(rows_per_file):
            k += 1
            term = float(rng.integers(365, 10951))
            all_terms.append(term)
            lines.append(
                f"P{k:06d},{rng.integers(18, 81)},M,non-smoker,eng,term_life,"
                f"2020-01-01,{term},{1000.0}"
            )
        p = tmpdir / f"policy_{f}.csv"
        p.write_text("\n".join(lines) + "\n", encoding="utf-8")
        paths.append(str(p))
    return str(tmpdir), np.array(all_terms)
