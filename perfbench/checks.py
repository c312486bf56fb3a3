"""Correctness oracles, computed in DuckDB from the same generated inputs.

* analyst: the registry's own oracle SQL, compared with the
  canonicalisation of ``tools/check_oracle.py``;
* near-duplicate pairs and clusters: exact Jaccard over the token sets;
* the ingest gate: the registry's t11 batch replay
  (``plans.streaming_queries._t11_batch_ctes``) unrolled for N batches.
"""

from __future__ import annotations

import math

import duckdb

from actuarial_reserve_modelling_spark.functions.reserves import analytic_moments
from actuarial_reserve_modelling_spark.plans.streaming_queries import _t11_batch_ctes
from tools.check_oracle import _canon, _duck_types, _spark_types

# A portfolio total further than this many standard errors from the
# analytic mean counts as wrong (false alarm rate ~6e-7 per job).
RESERVE_SIGMAS = 5.0


def reserve_z(total: float, terms, n_trials: int) -> float:
    """Standard score of a portfolio total against the closed-form moments
    of the mean-over-trials estimator."""
    mean, var = analytic_moments(terms)
    return (total - mean) / math.sqrt(var / n_trials)


def duck(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    for name, path in tables.items():
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def analyst_matches(con, oracle_sql: str, sdf) -> str | None:
    """None when the Spark frame equals the oracle, else what differs."""
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    res = con.execute(oracle_sql)
    dcols, drows = [d[0] for d in res.description], res.fetchall()
    sn, sm = _canon(scols, srows)
    dn, dm = _canon(dcols, drows)
    if sn != dn:
        return f"columns {sn} != {dn}"
    st, dt = _spark_types(sdf), _duck_types(con, oracle_sql)
    if st != dt:
        return f"types {st} != {dt}"
    if sm != dm:
        return f"{len(srows)} spark rows vs {len(drows)} oracle rows, values differ"
    return None


def near_dup_pairs(con, tau: float) -> set[tuple[int, int]]:
    """All (d1 < d2) pairs of ``documents`` with exact Jaccard >= tau, also
    kept as table ``nd``."""
    con.execute(f"""
    CREATE OR REPLACE TABLE nd AS
    WITH words AS (
        SELECT DISTINCT doc_id, w FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ) WHERE w <> ''),
    cnt AS (SELECT doc_id, count(*) n FROM words GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id d1, b.doc_id d2, count(*) k
        FROM words a JOIN words b USING (w)
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT d1, d2 FROM inter
    JOIN cnt c1 ON d1 = c1.doc_id JOIN cnt c2 ON d2 = c2.doc_id
    WHERE round(k / CAST(c1.n + c2.n - k AS DOUBLE), 6) >= {tau}""")
    return {(int(a), int(b)) for a, b in con.execute("SELECT d1, d2 FROM nd").fetchall()}


def clusters(pairs: set[tuple[int, int]]) -> dict[int, int]:
    """doc_id -> minimum doc_id of its connected component, for every
    document that appears in a pair."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def ingest_replay(con, n_batches: int, tau: float) -> set[tuple[int, int]]:
    """Admitted (doc_id, batch) of the near-dup ingest gate over the
    ``documents`` table (columns doc_id, text, batch), replayed in SQL
    with the registry's per-batch CTEs over materialized ``fp`` and
    ``ndb`` tables."""
    near_dup_pairs(con, tau)
    con.execute("""
    CREATE OR REPLACE TABLE fp AS
    SELECT doc_id, batch,
           substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 16) AS f
    FROM documents""")
    con.execute("CREATE OR REPLACE TABLE ndb AS SELECT d1 a, d2 b FROM nd UNION SELECT d2, d1 FROM nd")
    # one statement per batch: batch b reads the earlier batches' admitted
    # sets as tables (inlined as CTEs, the plan doubles with every batch)
    for b in range(n_batches):
        con.execute(f"CREATE OR REPLACE TABLE adm{b} AS WITH RECURSIVE {_t11_batch_ctes(b)} "
                    f"SELECT doc_id FROM adm{b}")
    sql = " UNION ALL ".join(f"SELECT doc_id, {b} AS batch FROM adm{b}" for b in range(n_batches))
    return {(int(d), int(b)) for d, b in con.execute(sql).fetchall()}
