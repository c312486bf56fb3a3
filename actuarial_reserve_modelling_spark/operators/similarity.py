"""Similarity search over embedding columns (SURVEY §2.10 L3/L4).

Brute-force cosine is the exact baseline: query-set × corpus with the
query side broadcast. At 100 TB the corpus side streams through
executors once per query batch; cost is O(|Q|·|C|·d) FLOPs but zero
shuffle beyond the final top-k.

The scale path is LSH bucketing (random hyperplanes): signatures are
O(n), candidates come from bucket joins, and exact cosine re-ranks only
candidates. Approximate by construction → checked by a recall test, not
the SQL oracle.

Kernel strategy (r8): signature/assignment/training/ADC kernels run on
``mapInArrow``/``applyInArrow`` with zero-copy list-column ingestion
(``operators/arrowkit.py``); bulk pair VERIFY runs in the batch kernel
``_kernel_cosine_sims`` whose sequential sums are bit-identical to the
SQL ``aggregate`` fold, with rounding/thresholding kept JVM-side. Small
scored joins (top-k reranks against a bounded query batch) stay as
single interpreted dots with per-row precomputed self-dots
(``cosine_from_sq``) — there the join, not the dot, is the cost.
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from actuarial_reserve_modelling_spark.operators.sigparams import accept_presigned
from actuarial_reserve_modelling_spark.sources.lease import leased
from actuarial_reserve_modelling_spark.sources.tiers import (
    Dataset,
    Layout,
    _is_path_missing,
    _write_index_stats,
    add_rows,
    auto_parts,
    cached_piece,
    delete_rows,
    hash_part,
    read_index_stats,
    read_meta,
    route_pruned,
    write_meta,
)


def _as_double(col: str):
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: str, b: str):
    """Σ a_i·b_i as a JVM expression (sequential fold, like DuckDB's
    list_dot_product, so cross-engine float results agree)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: str, b: str):
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


def _kernel_cosine_sims(
    joined: DataFrame,
    id1: str = "v1",
    id2: str = "v2",
    a_col: str = "e1",
    b_col: str = "e2",
) -> DataFrame:
    """Batch cosine over a (id1, id2, vec, vec) candidate frame as ONE
    Arrow kernel pass — the verify engine for the pair-mining paths,
    where candidate volume is the cost driver (the hyperplane LSH path
    verifies ~n·bucket·tables/2 candidates; at 110k vectors that is
    tens of millions of 64-element dots, and Spark evaluates
    zip_with/aggregate folds OUTSIDE codegen at ~interpreted-op cost
    per element).

    BIT-IDENTICAL to the expression form ``dot(a,b) /
    sqrt(dot(a,a)·dot(b,b))``: every product is the same double
    multiply, and ``np.add.accumulate`` is defined as a strict
    left-to-right sequential reduction — the same association order as
    the SQL ``aggregate`` fold seeded with 0.0 (0.0 + x₀ ≡ x₀) — unlike
    ``np.sum``, whose pairwise summation would differ in the last ulp
    and flip 6-dp rounding at boundaries. Rounding/thresholding stay
    with the CALLER on the JVM side (``F.round`` is decimal HALF_UP;
    numpy rounds half-to-even), so downstream semantics are untouched.
    Returns (id1, id2, sim) with sim UNROUNDED.
    """
    schema = T.StructType(
        [
            T.StructField(id1, T.LongType()),
            T.StructField(id2, T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        from actuarial_reserve_modelling_spark.operators.arrowkit import fixed_vecs, int_col

        for batch in batches:
            if batch.num_rows == 0:
                continue
            e1 = fixed_vecs(batch.column(a_col))
            e2 = fixed_vecs(batch.column(b_col))
            dab = np.add.accumulate(e1 * e2, axis=1)[:, -1]
            daa = np.add.accumulate(e1 * e1, axis=1)[:, -1]
            dbb = np.add.accumulate(e2 * e2, axis=1)[:, -1]
            yield pa.record_batch(
                [
                    pa.array(int_col(batch.column(id1))),
                    pa.array(int_col(batch.column(id2))),
                    pa.array(dab / np.sqrt(daa * dbb), type=pa.float64()),
                ],
                names=[id1, id2, "sim"],
            )

    return joined.select(id1, id2, a_col, b_col).mapInArrow(kernel, schema=schema)


def cosine_from_sq(a: str, b: str, asq: str, bsq: str):
    """``cosine()`` with the self-dots precomputed per ROW and carried
    as columns: one interpreted higher-order dot per scored pair
    instead of three. BIT-IDENTICAL to ``cosine()`` — ``dot(x, x)``
    yields the same double wherever it is evaluated and the
    ``sqrt(asq·bsq)`` operand order matches ``sqrt(dot·dot)`` — so
    every hash-compared ``sim`` is unchanged. Spark evaluates
    zip_with/aggregate OUTSIDE codegen, so on a join producing P
    scored pairs this trades 3P interpreted dots for P + the two
    sides' row counts."""
    return dot(a, b) / F.sqrt(F.col(asq) * F.col(bsq))


# The bounded-query-batch contract (r13 verdict #5): several exact /
# ADC query tails hold the QUERY batch on the driver (broadcast or
# collect) by documented design — the corpus streams, the batch does
# not. Nothing used to enforce the bound: a 10M-row query frame meant a
# driver OOM instead of an actionable error. Every such entry point now
# probes the batch size first and fails loudly, naming the persisted
# ANN path as the scale alternative. The probe is a limit(n+1) count —
# one cheap job, never a full scan of a large batch.
DEFAULT_MAX_QUERY_ROWS = 100_000


def _require_bounded_queries(
    queries: DataFrame, op: str, max_query_rows: int | None
) -> None:
    if max_query_rows is None:
        return
    n = queries.limit(max_query_rows + 1).count()
    if n > max_query_rows:
        raise ValueError(
            f"{op}: query batch exceeds max_query_rows={max_query_rows} — "
            "this path holds the query batch in driver memory by design "
            "(the bounded-query-batch contract). For large batches use the "
            "persisted ANN tier (ann_ivf_hier_topk_persisted / "
            "ann_ivfpq_topk_persisted with candidates=... for mining), or "
            "pass a larger max_query_rows / max_query_rows=None only if "
            "the batch genuinely fits driver memory."
        )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int | None = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output (query_id, neighbor_id, rank, sim); sim rounded to 6 dp
    *before* ranking so ordering (and therefore rank) is stable across
    engines; ties broken by neighbor id. Excludes self-matches.
    """
    _require_bounded_queries(queries, "cosine_topk", max_query_rows)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        dot(vec_col, vec_col).alias("dqq"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        dot(vec_col, vec_col).alias("dcc"),
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_from_sq("qvec", "cvec", "dqq", "dcc"), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """L4: all pairs with cosine ≥ threshold (exact self-join form —
    correctness baseline; use ann_lsh blocking at scale). The n²/2
    pair scores run in the batch Arrow kernel (_kernel_cosine_sims —
    bit-identical sequential sums); rounding + threshold stay JVM.

    O(n²) by construction AND one side broadcasts whole, so the input
    is probed against ``max_rows`` (the r13-watched hazard, guarded
    like the query tails): past the bound this raises loudly naming
    the blocked pair stages instead of OOMing executors/driver."""
    if max_rows is not None:
        n = embeddings.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"cosine_pairs: input exceeds max_rows={max_rows} — the "
                "exact all-pairs baseline is O(n²) with one side broadcast "
                "whole. Use lsh_cosine_pairs (near-dup thresholds) or "
                "ivf_cosine_pairs (moderate thresholds) at corpus scale, "
                "or raise max_rows / pass max_rows=None deliberately."
            )
    a = embeddings.select(F.col(id_col).alias("v1"), F.col(vec_col).alias("e1"))
    b = embeddings.select(F.col(id_col).alias("v2"), F.col(vec_col).alias("e2"))
    joined = a.join(F.broadcast(b), F.col("v1") < F.col("v2"))
    return (
        _kernel_cosine_sims(joined)
        .select("v1", "v2", F.round("sim", 6).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def hyperplane_signatures(
    embeddings: DataFrame,
    num_planes: int = 16,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH signature (one int bucket per band of
    planes). Plane matrix is seeded and regenerated identically in every
    task — no driver-side state to ship."""
    schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("sig", T.LongType())]
    )

    def kernel(batches):
        import pyarrow as pa

        from actuarial_reserve_modelling_spark.operators.arrowkit import fixed_vecs, int_col

        planes = np.random.default_rng(seed).standard_normal((dim, num_planes))
        for batch in batches:
            if batch.num_rows == 0:
                continue
            vecs = fixed_vecs(batch.column(vec_col), d=dim)
            bits = (vecs @ planes) > 0
            sig = bits @ (1 << np.arange(num_planes, dtype=np.int64))
            yield pa.record_batch(
                [pa.array(int_col(batch.column(id_col))), pa.array(sig)],
                names=[id_col, "sig"],
            )

    from actuarial_reserve_modelling_spark.operators import spread_for_kernel

    return spread_for_kernel(embeddings.select(id_col, vec_col)).mapInArrow(
        kernel, schema=schema
    )


def hyperplane_signatures_multi(
    embeddings: DataFrame,
    num_planes: int,
    num_tables: int,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ALL ``num_tables`` hyperplane signatures in ONE kernel pass:
    (vec_id, table, sig) rows from a single corpus scan and a single
    Arrow stage. Bit-identical to unioning ``num_tables`` separate
    ``hyperplane_signatures(seed + t)`` calls — each table's plane
    matrix is the same ``default_rng(seed + t)`` draw, the matmul is
    just batched as one (n, dim) @ (dim, tables·planes) product — but
    the corpus is read once instead of ``num_tables`` times and one
    Python worker stage replaces ``num_tables`` of them. At 100 TB
    that is the difference between one pass over the vectors and
    twelve; measured at sf0.1 it cut the LSH pair stage ~5×."""
    from actuarial_reserve_modelling_spark.operators.sigparams import (
        SIG_PARAMS_KEY,
        hyperplane_fingerprint,
    )

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("table", T.IntegerType()),
            # params-hash for the presigned accept sites (see sigparams)
            T.StructField(
                "sig",
                T.LongType(),
                metadata={
                    SIG_PARAMS_KEY: hyperplane_fingerprint(
                        num_planes, num_tables, seed, dim
                    )
                },
            ),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        from actuarial_reserve_modelling_spark.operators.arrowkit import fixed_vecs, int_col

        planes = np.concatenate(
            [
                np.random.default_rng(seed + t).standard_normal((dim, num_planes))
                for t in range(num_tables)
            ],
            axis=1,
        )  # (dim, tables * planes)
        weights = 1 << np.arange(num_planes, dtype=np.int64)
        tables = np.arange(num_tables, dtype=np.int32)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vecs = fixed_vecs(batch.column(vec_col), d=dim)
            bits = (vecs @ planes) > 0  # (n, tables * planes)
            sig = bits.reshape(n, num_tables, num_planes) @ weights  # (n, tables)
            yield pa.record_batch(
                [
                    pa.array(np.repeat(int_col(batch.column(id_col)), num_tables)),
                    pa.array(np.tile(tables, n), type=pa.int32()),
                    pa.array(sig.reshape(-1)),
                ],
                names=[id_col, "table", "sig"],
            )

    from actuarial_reserve_modelling_spark.operators import spread_for_kernel

    return spread_for_kernel(embeddings.select(id_col, vec_col)).mapInArrow(
        kernel, schema=schema
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 10,
    num_tables: int = 8,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH blocking → exact
    cosine re-rank of candidates only. num_tables signatures per vector;
    a candidate is any corpus vector sharing ≥1 bucket with the query.
    Recall tested against cosine_topk (not SQL-oracle-checkable)."""
    # all tables' signatures from ONE corpus scan + ONE Arrow stage
    # (hyperplane_signatures_multi) — not num_tables separate kernels
    corpus_sigs = hyperplane_signatures_multi(
        embeddings, num_planes, num_tables, seed, dim
    )
    # pick the query vectors' signatures out of the corpus signatures via
    # a semi-join (no driver-side collect — a query TABLE works, not just
    # a small query set). The broadcast hint is justified by the
    # operator's contract: the query side is the bounded input.
    query_sigs = corpus_sigs.join(
        F.broadcast(queries.select("vec_id")), "vec_id", "semi"
    ).select(F.col("vec_id").alias("query_id"), "table", "sig")
    cand = (
        corpus_sigs.join(F.broadcast(query_sigs), ["table", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        dot("embedding", "embedding").alias("dqq"),
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        dot("embedding", "embedding").alias("dcc"),
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_from_sq("qvec", "cvec", "dqq", "dcc"), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def lsh_cosine_pairs_with_index(
    embeddings: DataFrame,
    threshold: float = 0.9,
    num_planes: int = 12,
    num_tables: int = 24,
    seed: int = 42,
    dim: int = 64,
    max_bucket_size: int = 10_000,
) -> tuple[DataFrame, DataFrame]:
    """``lsh_cosine_pairs`` that ALSO returns the multi-table
    signature frame (vec_id, table, sig) it computed internally,
    eagerly checkpointed so the pair pipeline and the caller share ONE
    kernel run. The semantic ingest gate semi-joins it (with ``spart``
    attached — a pure projection of the (table, sig) cell) instead of
    re-signing its batch for the cross-batch check and the tier append.
    Signatures are bit-identical to ``hyperplane_signatures_multi``
    under the same parameters — it IS that kernel."""
    return _lsh_cosine_pairs(
        embeddings,
        threshold=threshold,
        num_planes=num_planes,
        num_tables=num_tables,
        seed=seed,
        dim=dim,
        max_bucket_size=max_bucket_size,
        with_index=True,
    )


def lsh_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    num_planes: int = 12,
    num_tables: int = 24,
    seed: int = 42,
    dim: int = 64,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Scale path for embedding near-dup PAIRS (the all-pairs analogue of
    ``ann_lsh_topk``; swaps into ``l2d_embedding_dedup``'s pair stage):
    multi-table hyperplane signatures → within-bucket candidate pairs →
    exact cosine verify ≥ threshold. O(n) signatures + bucket-local
    expansion replace the O(n²) self-join of ``cosine_pairs``.

    Hyperplane LSH collision probability is (1 − θ/π) per plane, so
    blocking is only effective at near-dup thresholds: τ=0.9 (θ≈26°)
    gives ≈98% pair recall at the defaults, while τ≤0.5 degenerates —
    for low-threshold pair mining use the exact form or IVF partitioning.
    Defaults are 12 planes × 24 tables rather than 8 × 12: per-table
    selectivity drives the FALSE-candidate mass (random 64-d vectors
    collide at 2^-planes per table — 8 planes produced 65× more
    verify-stage candidates than true pairs on uniform vectors), and
    since round 7 all tables come from ONE kernel pass
    (hyperplane_signatures_multi), doubling tables costs one extra
    int64 column per vector, not another corpus scan; theoretical
    recall at τ=0.9 is 1−(1−0.857¹²)²⁴ ≈ 98.3%, the same band as the
    old defaults, with ~8× fewer candidates. Bucket-size cap +
    member-set dedup mirror the MinHash-LSH design (operators/dedup.py
    lsh_candidate_pairs).

    Honest candidate-mass statement (measured at 110k uniform
    vectors): candidates ≈ tables·n·bucket/2 with bucket = n/2^planes
    — QUADRATIC in n for fixed planes on structure-less data, and
    plane/table auto-scaling cannot beat the LSH ρ-exponent (raising
    planes forces recall-compensating table counts that restore the
    same mass). This operator's domain is therefore dup-heavy near-dup
    corpora at τ ≥ ~0.8, where true pairs dominate the candidate set;
    for bulk pair mining on weakly-clustered data use
    ``ivf_cosine_pairs`` (bounded lists — linear verify by
    construction). The verify itself runs in the batch Arrow kernel
    (``_kernel_cosine_sims``), so the per-candidate cost is a
    vectorized multiply-accumulate, not an interpreted fold.
    """
    return _lsh_cosine_pairs(
        embeddings,
        threshold=threshold,
        num_planes=num_planes,
        num_tables=num_tables,
        seed=seed,
        dim=dim,
        max_bucket_size=max_bucket_size,
        with_index=False,
    )


def _lsh_cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    num_planes: int,
    num_tables: int,
    seed: int,
    dim: int,
    max_bucket_size: int,
    with_index: bool,
):
    """Body of both public forms — ``with_index=False`` keeps the
    signature kernel fused into the bucket aggregation (the historical
    single-output plan); ``with_index=True`` checkpoints it for
    sharing."""
    # one corpus scan + one Arrow stage for all tables' signatures (the
    # per-table-kernel formulation read the corpus num_tables times —
    # 12 passes over the vectors at the defaults)
    sigs = hyperplane_signatures_multi(embeddings, num_planes, num_tables, seed, dim)
    if with_index:
        sigs = sigs.localCheckpoint(eager=True)
    grouped = (
        sigs.groupBy("table", "sig")
        .agg(F.array_sort(F.collect_list("vec_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    )
    unique_sets = grouped.select("ids").distinct()
    members = unique_sets.select(F.posexplode("ids").alias("i", "v1"), "ids")
    cand = (
        members.select(
            "v1",
            F.explode(
                F.slice("ids", F.col("i") + 2, F.size("ids") - F.col("i") - 1)
            ).alias("v2"),
        )
        .distinct()
    )
    a = embeddings.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("e1"))
    b = embeddings.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("e2"))
    # no broadcast hint on the embeddings table: this is the 100 TB pair
    # path, so the build side is unbounded — AQE promotes to broadcast at
    # runtime only when the table actually fits (the hint would force an
    # OOM at exactly the scale this operator exists for).
    # verify runs in the batch Arrow kernel (_kernel_cosine_sims —
    # bit-identical sequential sums): candidate volume is
    # ~tables·n·bucket/2 and the interpreted-fold form was ~64
    # interpreted ops per candidate — the whole wall at 110k vectors
    # (measured 215 s → the kernel replaces it with three vectorized
    # (batch × d) elementwise passes). Rounding + threshold stay JVM.
    sims = _kernel_cosine_sims(cand.join(a, "v1").join(b, "v2"))
    pairs = sims.select(
        "v1", "v2", F.round("sim", 6).alias("sim")
    ).filter(F.col("sim") >= threshold)
    return (pairs, sigs) if with_index else pairs


# --- IVF (inverted-file) ANN ------------------------------------------------


def resolve_n_centroids(
    embeddings: DataFrame, n_centroids: int | str, id_col: str = "vec_id"
) -> int:
    """Resolve the ``n_centroids="auto"`` contract: ``max(16, ⌊√n⌋)``
    — the standard IVF sizing rule that keeps both the probed-list
    scan (n/k per probe) and the centroid matmul (k per vector) at
    O(√n), so recall does not silently decay as the corpus grows under
    a fixed k (the 128k→256k degradation BASELINE.md documents for
    fixed settings). The count is a column-pruned scan; integers pass
    through unchanged."""
    if n_centroids == "auto":
        import math

        return max(16, math.isqrt(embeddings.select(id_col).count()))
    if not isinstance(n_centroids, int):
        raise ValueError(f"n_centroids must be an int or 'auto', got {n_centroids!r}")
    return n_centroids


def _collapse_units(
    unit: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate collapse for the quantizer paths (the
    ``minhash_near_dup_pairs`` exact-collapse pattern, dedup.py:338,
    applied to vectors): group bitwise-identical unit vectors by a
    128-bit composite digest (two independent xxhash64 lanes — one
    lane's 2⁻⁶⁴ birthday mass is ~3% at 10⁹ rows, two lanes make a
    false merge ~2⁻⁷⁰ there) and return

    * ``reps`` — one row per distinct vector, id = the group's MINIMUM
      member id (deterministic; rep ids are real corpus ids, so every
      downstream id-hash/tie-break rule is unchanged), plus the vector;
    * ``memb`` — the (member ``_m`` → rep ``_rep``) expansion map.

    Why before level-1 assignment: a duplicate-heavy corpus is the one
    input that defeats both k-means (identical rows cannot be
    separated into children, so a 30%-duplicate cluster lands in ONE
    level-2 group/list no matter how the quantizer is sized) and
    hash sub-splitting of the hot group (splitting identical vectors
    loses their pairs). Collapsing first removes the skew at its
    source — the quantizer sees each distinct vector once, so
    duplicate-heavy corpora get CHEAPER, the same win exact-collapse
    bought the MinHash path — and the guarantee "identical vectors
    share ALL lists" becomes structural: members inherit their rep's
    list set verbatim. The groupBy collapses duplicates MAP-SIDE
    (partial aggregation), so the hot digest never concentrates rows
    on one reducer either."""
    dg = [
        F.xxhash64(F.col(vec_col)).alias("_dg1"),
        F.xxhash64(F.lit(17), F.col(vec_col)).alias("_dg2"),
    ]
    reps = (
        unit.select(id_col, vec_col, *dg)
        .groupBy("_dg1", "_dg2")
        .agg(
            F.min(id_col).alias(id_col),
            F.min_by(vec_col, F.col(id_col)).alias(vec_col),
        )
    )
    memb = (
        unit.select(F.col(id_col).alias("_m"), *dg)
        .join(
            reps.select(F.col(id_col).alias("_rep"), "_dg1", "_dg2"),
            ["_dg1", "_dg2"],
        )
        .select("_m", "_rep")
    )
    # both frames feed several downstream branches (iterative k-means
    # training, assignment, verify, and the member-expansion joins) —
    # one materialization each, or the digest shuffle re-runs per branch
    return (
        reps.select(id_col, vec_col).localCheckpoint(eager=False),
        memb.localCheckpoint(eager=False),
    )


def _unit_normalize(
    embeddings: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, unit-vector) rows for every nonzero-norm vector — the Arrow
    form of ``filter(sq > 0).select(transform(x / sqrt(greatest(sq,
    1e-300))))``, bit-identical to that interpreted HOF fold: element
    squares round through the column's float32 storage type, the norm
    accumulates left-to-right into a float64, and each element divides
    as float64. Zero-norm and NaN-norm rows are dropped by the keep
    mask (sq > 0 is false for both), null vectors by the pre-filter."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        from actuarial_reserve_modelling_spark.operators.arrowkit import (
            fixed_vecs,
            int_col,
            rows_to_list_array,
        )

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = int_col(batch.column(id_col))
            col = batch.column(vec_col)
            ctype = col.type if not isinstance(col, pa.ChunkedArray) else col.type
            # square in the column's STORAGE type, exactly as x*x does
            # (float32 elements round their squares to float32 before
            # the float64 accumulation; float64 elements do not)
            store = (
                np.float32
                if pa.types.is_float32(ctype.value_type)
                else np.float64
            )
            vs = fixed_vecs(col, dtype=store)
            acc = np.zeros(len(ids), dtype=np.float64)
            for j in range(vs.shape[1]):
                acc += vs[:, j] * vs[:, j]
            keep = acc > 0.0
            denom = np.sqrt(np.maximum(acc[keep], 1e-300))
            out = vs[keep].astype(np.float64) / denom[:, None]
            yield pa.record_batch(
                [
                    pa.array(ids[keep], type=pa.int64()),
                    rows_to_list_array(out, pa.float64()),
                ],
                names=[id_col, vec_col],
            )

    return (
        embeddings.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .mapInArrow(kernel, schema=schema)
    )


def ivf_cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    n_centroids: int | str = "auto",
    nprobe: int = 4,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 100_000,
    child_nprobe: int = 2,
) -> DataFrame:
    """IVF-partitioned pair stage for ``semantic_dedup`` at MODERATE
    thresholds, where hyperplane LSH degenerates (its per-plane
    collision curve only separates pairs at near-dup τ ≥ ~0.8 —
    SemDeDup's working range of τ ≈ 0.3-0.6 needs a different blocking
    geometry). Vectors are L2-NORMALIZED (cosine distance becomes
    Euclidean: ‖â−b̂‖² = 2−2·cos) and soft-assigned to their ``nprobe``
    nearest coarse centroids; candidate pairs are generated only within
    shared inverted lists and verified with the exact cosine on the
    original vectors. A pair is found iff the two vectors share ≥1 of
    each's probed lists — raise ``nprobe`` (or ``n_centroids``) to
    trade cost for recall; identical vectors always share ALL lists
    (every assignment level is deterministic with stable tie-breaks),
    so exact duplicates are found with probability 1 regardless of
    settings.

    The 100 TB shape: the list-count target follows the BOUNDED-LIST
    rule, not the ANN √n rule — ``n_centroids="auto"`` targets
    ``k = max(16, n//16)`` final lists so the expected list size stays
    ~16·nprobe at ANY corpus size and the verify stage is
    O(n · probes² · list_size), LINEAR in n (√n centroids would give
    √n-sized lists and an n^1.5 verify; a fixed k=16 measured 2.9M
    candidates for 400 true pairs at just 2,400 vectors). A FLAT
    quantizer cannot reach that k at scale: assignment against
    k = n/16 centroids is O(n²·d/16) FLOPs, and the (k × d) centroid
    matrix is O(n·d) driver/closure state — quadratic work, linear
    driver memory (the r7 audit finding). The auto path therefore
    builds its k lists with a TWO-LEVEL (hierarchical) coarse
    quantizer:

    * level 1 — ``k1 = max(4, ⌊√k⌋)`` super-centroids, trained with
      the shared deterministic k-means (``ivf_train_centroids``) and
      soft-assigned with ``nprobe`` probes. Assignment is O(n·√k·d);
      driver/closure state is O(√k·d) doubles (a few MB even at 10⁹
      vectors).
    * level 2 — each super-list is shuffled to ONE task
      (``groupBy(super).applyInPandas``) which trains its own local
      children — membership-aware sizing keeps final lists at ~16
      members whatever the probe counts — under the same determinism
      rules (content-hash init, lowest-index tie-break, rows sorted by
      id so float accumulation order is fixed) and soft-assigns its
      members to ``min(child_nprobe, k2)`` of them. Summed over groups
      that is O(n·nprobe·√k·d·child_nprobe/16) work, executor-
      distributed, with NO child centroids on the driver. Final list
      id = ``super·2³² + child``.

    Versus the flat path, the hierarchy adds one (id, super, vec)
    shuffle of n·nprobe rows — the price of distributing the fine
    quantizer — and needs one super-list per task (~16·nprobe·√k
    vectors ≈ 130 MB at n=10⁹/d=64/nprobe=2; a third level is the
    mechanical escape hatch beyond that). Per-vector probe count rises
    from nprobe to nprobe·child_nprobe (verify stays linear:
    O(n·nprobe·child_nprobe·16) candidate dots); the recall table in
    BASELINE.md prices that in (τ=0.9 planted pairs at 55k/110k/220k
    vectors — tools/pair_recall_stress.py). The moderate-τ caveat carries over
    from the flat geometry: on weakly-clustered data at low
    thresholds, fine lists separate far-apart true pairs more often —
    raise ``nprobe`` when mining SemDeDup's lower range on
    structure-less data (the recall pytest pins that band).

    An EXPLICIT integer ``n_centroids`` keeps the single-level flat
    quantizer — assignment O(n·k·d), centroids driver-resident — the
    right shape when the caller wants a small fixed k, with the
    honest cost statement attached. ``max_bucket_size`` drops
    degenerate lists with the same logged semantics as
    ``lsh_cosine_pairs``; the verify join is exact and AQE-decided in
    both shapes. Zero-norm vectors are excluded structurally (cosine
    with anything is undefined — they can never reach any τ > 0);
    auto-sizing counts the NONZERO corpus (the vectors actually
    clustered), not the raw input.
    """
    # r14: the unit projection runs as an Arrow kernel, not the
    # interpreted transform/aggregate HOF pair it replaced — Catalyst
    # evaluates higher-order lambdas per ELEMENT in the expression
    # interpreter (~4 µs/element measured; ~0.5 s per materialization
    # of this subtree at a 2,400×64 corpus, linear at scale). The
    # kernel reproduces the fold BITWISE: squares round through
    # float32 (the storage element type, as x*x did), accumulate left
    # to right into a float64 (same promotion), and the division is
    # the same f64-cast-over-sqrt(greatest(sq, 1e-300)) — pinned by
    # test_unit_normalize_kernel_matches_hof_bitwise. Zero-norm/NaN
    # rows drop via the keep mask exactly as the sq > 0 filter did;
    # null vectors are pre-filtered (the HOF dropped them via a NULL
    # sq, fixed_vecs would instead raise on them).
    unit = _unit_normalize(embeddings, id_col, vec_col)
    # r9: exact-duplicate collapse BEFORE any quantizer (see
    # _collapse_units) — train/assign/candidate/verify run on one rep
    # per distinct vector; members re-enter at the end by inheriting
    # their rep's verified pairs.
    reps, memb = _collapse_units(unit, id_col, vec_col)
    if n_centroids == "auto":
        assigned = _hierarchical_ivf_lists(
            reps,
            nprobe=nprobe,
            n_iters=n_iters,
            id_col=id_col,
            vec_col=vec_col,
            child_nprobe=child_nprobe,
        )
    else:
        centroids = ivf_train_centroids(
            reps, n_centroids, n_iters=n_iters, id_col=id_col, vec_col=vec_col
        )
        assigned = ivf_assign(
            reps, centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe
        )
    grouped = (
        assigned.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    )
    members = grouped.select("ids", F.posexplode("ids").alias("i", "v1"))
    cand = (
        members.select(
            "v1",
            F.explode(
                F.slice("ids", F.col("i") + 2, F.size("ids") - F.col("i") - 1)
            ).alias("v2"),
        )
        .distinct()
    )
    # verify in the batch Arrow kernel (_kernel_cosine_sims): sim is
    # dot/sqrt(daa·dbb) with strict sequential sums — the same form as
    # every other pair path since the kernel unification (the earlier
    # interpreted norm-product form was within 1 ulp of this; l27c's
    # oracle compares keep flags, never sims, and the recall gates
    # re-held on the kernel form). Rounding + threshold stay JVM.
    # Verification uses the reps' ORIGINAL (un-normalized) vectors, as
    # every pair path does. No sq > 0 filter here: reps only holds ids
    # that survived the normalize kernel's nonzero mask, so the semi-
    # join already excludes zero-norm rows — the interpreted HOF filter
    # would re-evaluate the fold over both verify-side scans for
    # nothing (r14: ~0.5 s per side at sf0.1, a full corpus pass each
    # at scale).
    orig = embeddings.select(id_col, vec_col).join(
        reps.select(id_col), id_col, "left_semi"
    )
    a = orig.select(F.col(id_col).alias("v1"), F.col(vec_col).alias("e1"))
    b = orig.select(F.col(id_col).alias("v2"), F.col(vec_col).alias("e2"))
    sims = _kernel_cosine_sims(cand.join(a, "v1").join(b, "v2"))
    verified = sims.select(
        "v1", "v2", F.round("sim", 6).alias("sim")
    ).filter(F.col("sim") >= threshold)
    # expansion: a member pair's cosine equals its reps' cosine (their
    # unit vectors are bitwise identical), so
    #   * cross-group pairs inherit the reps' verified sim — one
    #     verified row fans out to |g1|·|g2| member rows (join-explode,
    #     streamed; each member has exactly ONE rep so no row is
    #     emitted twice);
    #   * within-group pairs are sim 1.0 by construction (the kernel
    #     yields exactly 1.0 on identical vectors: dot == daa == dbb
    #     sequentially, and IEEE sqrt(x·x) == x), emitted directly —
    #     the quadratic dup-group output is the CONTRACT's size, but
    #     no quantizer, candidate or verify work is spent on it.
    # The rep→member joins key on _rep — skewed for dup-heavy corpora,
    # but the rep side carries ≤ probe-count rows per key, so the join
    # streams; nothing materializes a group.
    m1 = memb.select(F.col("_m").alias("m1"), F.col("_rep").alias("v1"))
    m2 = memb.select(F.col("_m").alias("m2"), F.col("_rep").alias("v2"))
    cross = (
        verified.join(m1, "v1")
        .join(m2, "v2")
        .select(
            F.least("m1", "m2").alias("v1"),
            F.greatest("m1", "m2").alias("v2"),
            "sim",
        )
    )
    intra = (
        memb.alias("x")
        .join(
            memb.alias("y"),
            (F.col("x._rep") == F.col("y._rep")) & (F.col("x._m") < F.col("y._m")),
        )
        .select(
            F.col("x._m").alias("v1"),
            F.col("y._m").alias("v2"),
            F.lit(1.0).alias("sim"),
        )
    )
    return cross.unionByName(intra)


def _stable_top_nprobe(d2: np.ndarray, m: int) -> np.ndarray:
    """Indices of the ``m`` smallest entries per row of ``d2`` with the
    stable-argsort TIE rule (equal distances -> lowest index wins), in
    O(k + m log m) per row instead of argsort's O(k log k). The
    selected set AND its order are exactly
    ``np.argsort(kind="stable")[:, :m]`` — i.e. RANK-ORDERED by
    (distance, index). r15: the output used to be rank-ordered only in
    the tie fix-up rows (argpartition leaves the selected block
    unordered); consumers treated probe lists as sets, so ordering was
    free to tighten — and a rank-ordered column 0 IS the hard (top-1)
    assignment, which lets the ingest gates share one level-1
    assignment between query probing and append membership. The per-m
    sort costs ~m log m on m ≤ nprobe entries — noise next to the
    matmul that produced ``d2``."""
    n, k = d2.shape
    if m >= k:
        return np.argsort(d2, axis=1, kind="stable")
    out = np.argpartition(d2, m - 1, axis=1)[:, :m]
    kthv = np.take_along_axis(d2, out, axis=1).max(axis=1)
    nbelow = (d2 < kthv[:, None]).sum(axis=1)
    nties = (d2 == kthv[:, None]).sum(axis=1)
    for i in np.nonzero(nbelow + nties > m)[0]:
        out[i] = np.argsort(d2[i], kind="stable")[:m]
    # rank-order the selected block by (value, index): stable argsort
    # by index first (plain sort of unique ints), then stable by value
    # — two passes compose to the lexicographic (value, index) order
    vals = np.take_along_axis(d2, out, axis=1)
    p1 = np.argsort(out, axis=1, kind="stable")
    out = np.take_along_axis(out, p1, axis=1)
    vals = np.take_along_axis(vals, p1, axis=1)
    p2 = np.argsort(vals, axis=1, kind="stable")
    return np.take_along_axis(out, p2, axis=1)


_FIB_MIX = np.uint64(0x9E3779B97F4A7C15)


# per-task group-size bound for the hierarchical quantizers: one
# super-list of <= _GROUP_CAP (id, 64-d double vector) rows is ~134 MB
# materialized in a single applyInPandas task — safely inside an
# executor budget while keeping the forced super count's driver state
# negligible (see call sites)
_GROUP_CAP = 262_144


def _local_kmeans(vecs: np.ndarray, ids: np.ndarray, k2: int, iters: int) -> np.ndarray:
    """Deterministic IN-TASK Lloyd's k-means over one group's vectors:
    the executor-side analogue of ``ivf_train_centroids`` with the same
    determinism rules — content-derived init (the ``k2`` members with
    the lowest Fibonacci-mixed id hash: uniform over the group, no
    dependence on Spark row order), distance ties broken by lowest
    centroid index (``argmin`` first-occurrence), empty clusters keep
    their centroid, and callers pre-sort rows by id so float
    accumulation order is fixed. Returns the (k2, d) centroid matrix;
    assign with ``_stable_top_nprobe``."""
    h = ids.astype(np.uint64) * _FIB_MIX  # wraps mod 2^64: cheap uniform mix
    cent = vecs[np.lexsort((ids, h))[:k2]].copy()
    for _ in range(iters):
        d2 = (cent * cent).sum(1)[None, :] - 2.0 * (vecs @ cent.T)
        a = d2.argmin(axis=1)  # first occurrence -> lowest index
        sums = np.zeros_like(cent)
        counts = np.zeros(k2)
        np.add.at(sums, a, vecs)
        np.add.at(counts, a, 1)
        nonempty = counts > 0  # empty children keep their centroid
        cent[nonempty] = sums[nonempty] / counts[nonempty, None]
    return cent


def _hierarchical_ivf_lists(
    unit: DataFrame,
    nprobe: int,
    n_iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    leaf_target: int = 16,
    child_nprobe: int = 2,
    group_cap: int = _GROUP_CAP,
) -> DataFrame:
    """Two-level coarse quantizer for ``ivf_cosine_pairs``'s auto path:
    (id, unit-vector) -> (id, composite list id ``super*2^32 + child``)
    with ~``leaf_target`` members per final list in expectation. Level
    1 is the shared driver-side k-means over ``k1 = max(4, isqrt(n //
    leaf_target))`` super-centroids (O(n*sqrt(k)*d) assignment, O(sqrt
    (k)*d) driver state); level 2 trains each super-list's children
    INSIDE one executor task, so no per-child state ever reaches the
    driver and total fine-assignment work stays sub-quadratic. See the
    caller's docstring for the full cost model.

    Each group sizes its children as ``k2 = g*child_nprobe //
    leaf_target`` (g = group membership count), so the expected FINAL
    list size stays ~leaf_target no matter how many probes feed it —
    per-vector memberships are nprobe*child_nprobe, and the verify
    stage costs O(n * nprobe * child_nprobe * leaf_target) candidate
    dots. The first cut of this function kept k2 = g/leaf_target,
    which let soft probing inflate lists to leaf_target*nprobe*
    child_nprobe members — measured 4x the flat path's verify wall at
    55k vectors; membership-aware sizing restored it.

    Determinism (the planted-duplicate oracles depend on it): level-1
    probes use the stable tie-break of ``ivf_assign``; level-2 sorts
    the group by id before ANY float work (fixed accumulation order),
    seeds children from the ``k2`` members with the lowest
    Fibonacci-mixed id hash (content-derived like the global
    xxhash64 init, uniform over the group, no dependence on Spark row
    order), and breaks distance ties by lowest child index. Identical
    vectors therefore receive identical super AND child sets, keeping
    the exact-duplicate-probability-1 guarantee through both levels —
    and since r9 the caller collapses bitwise-identical vectors to one
    rep BEFORE this function, making that guarantee structural.

    ``group_cap`` is a HARD bound on the rows one level-2 task may
    materialize: the expected-case sizing below keeps groups far under
    it, but a corpus that is one tight cluster can put most of its
    level-1 memberships into one super regardless of k1 — those
    oversized supers are deterministically hash-SUB-SPLIT into
    ``ceil(size / (group_cap·3/4))`` slices before the shuffle (each
    slice trains its own children over a uniform sample of the super —
    expected list geometry unchanged), and the kernel raises loudly if
    a group ever exceeds the cap anyway. The split costs one
    counts-of-counts aggregate over the (localCheckpointed) assignment
    — k1 rows broadcast back — and nothing when no super is oversized
    beyond that. Recall caveat: two near-dup (NOT identical) vectors
    falling in the same oversized super but different slices lose that
    super's vote; with nprobe ≥ 2 they still meet through their other
    probes, and exact duplicates are immune (collapsed upstream).
    """
    import math

    # same group-memory cap as ivf_hier_build: level-1 soft assignment
    # puts n*nprobe memberships into k1 groups, and one group is one
    # level-2 task — isqrt(k_target) ~ sqrt(n)/4 already keeps expected
    # groups at ~4*nprobe*sqrt(n) rows (253k at 10^9, nprobe=2, right
    # at the cap), so the cap term only binds for large nprobe or
    # beyond-10^9 corpora
    def _k1_of_n(m: int) -> int:
        return max(4, math.isqrt(max(16, m // leaf_target)), (m * nprobe) // group_cap)

    # r15: ONE fused job replaces the count + the init collect (k1
    # depends on n, resolved driver-side from the same pass)
    n, init = _count_and_kmeans_init(unit, _k1_of_n, id_col=id_col, vec_col=vec_col)
    k1 = _k1_of_n(n)
    super_cent = _kmeans_iterate(
        unit, init, n_iters=n_iters, id_col=id_col, vec_col=vec_col
    )
    # r14: the assignment kernel runs TWICE (counts pass + membership
    # pass) and carries the vectors through on the second — the prior
    # shape checkpointed a slim (id, cluster) assignment and attached
    # vectors with an id-keyed join, which at corpus scale is a full
    # shuffle of n·nprobe vector rows; the matmul re-run is executor
    # compute over the checkpointed reps, deterministic, and orders of
    # magnitude cheaper than that exchange. ``counts`` is k1-bounded.
    split_target = max(1, (group_cap * 3) // 4)
    if n <= split_target:
        # r15 (guide §2.4): the oversized-super guard is an IDENTITY
        # here — every group's size is ≤ n ≤ split_target, so _nsplit
        # = 1 for every super and pmod(xxhash64(id, 43), 1) = 0, i.e.
        # _super = cluster exactly. Skipping it drops one full
        # assignment kernel pass (the counts side), the k1-row
        # aggregate and its broadcast join from the plan; n is already
        # known from the count above, so the decision costs nothing.
        # Corpora past the cap keep the guard unchanged.
        members = ivf_assign(
            unit,
            super_cent,
            id_col=id_col,
            vec_col=vec_col,
            nprobe=min(nprobe, k1),
            carry_vec=True,
        ).select(id_col, vec_col, F.col("cluster").cast("long").alias("_super"))
    else:
        sup = ivf_assign(
            unit, super_cent, id_col=id_col, vec_col=vec_col, nprobe=min(nprobe, k1)
        )
        counts = sup.groupBy("cluster").agg(F.count(F.lit(1)).alias("_gsz"))
        members = (
            ivf_assign(
                unit,
                super_cent,
                id_col=id_col,
                vec_col=vec_col,
                nprobe=min(nprobe, k1),
                carry_vec=True,
            )
            .join(F.broadcast(counts), "cluster")
            .withColumn(
                "_nsplit", F.ceil(F.col("_gsz") / F.lit(split_target)).cast("long")
            )
            .select(
                id_col,
                vec_col,
                (
                    F.col("cluster").cast("long")
                    + F.lit(int(k1))
                    * F.pmod(F.xxhash64(F.col(id_col), F.lit(43)), F.col("_nsplit"))
                ).alias("_super"),
            )
        )
    child_probe = child_nprobe
    iters = n_iters
    cap = group_cap  # closure-captured so tests can shrink it per call
    schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("cluster", T.LongType())]
    )

    def children(table):
        # applyInArrow (r8): ids/vectors come straight off the Arrow
        # buffers (the pandas form paid a per-row list loop over up to
        # _GROUP_CAP rows per group). Row order inside the group is
        # pinned the same way — ascending id (ids are unique, so any
        # stable/unstable sort agrees) — before any float work, so
        # _local_kmeans sees the identical accumulation order and every
        # assignment is bit-identical to the pandas form.
        import pyarrow as pa

        from actuarial_reserve_modelling_spark.operators.arrowkit import fixed_vecs, int_col

        ids = int_col(table.column(id_col))
        order = np.argsort(ids)
        ids = ids[order]
        sup_id = np.int64(int_col(table.column("_super"))[0]) << np.int64(32)
        size = len(ids)
        if size > cap:
            raise ValueError(
                f"hierarchical level-2 group materialized {size} rows > "
                f"group_cap {cap} — the pre-shuffle sub-split failed"
            )
        k2 = max(1, size * child_nprobe // leaf_target)
        if k2 == 1 or size < 2:
            return pa.table(
                {id_col: pa.array(ids), "cluster": pa.array(np.full(size, sup_id))}
            )
        vecs = fixed_vecs(table.column(vec_col))[order]
        cent = _local_kmeans(vecs, ids, k2, iters)
        d2 = (cent * cent).sum(1)[None, :] - 2.0 * (vecs @ cent.T)
        m = min(child_probe, k2)
        probes = _stable_top_nprobe(d2, m)
        return pa.table(
            {
                id_col: pa.array(np.repeat(ids, m)),
                "cluster": pa.array(sup_id + probes.astype(np.int64).ravel()),
            }
        )

    return members.groupBy("_super").applyInArrow(children, schema=schema)


def ivf_train_centroids(
    embeddings: DataFrame,
    n_centroids: int | str = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic coarse quantizer for IVF: Lloyd's k-means with
    content-hash sampled init (the ``n_centroids`` vectors with the
    lowest ``xxhash64(id)`` — deterministic like a lowest-id take, but
    a uniform pseudo-random sample of the corpus rather than a biased
    slice of one id region, which on an id-sorted corpus would seed
    every centroid inside a single locality and cost recall before
    nprobe even matters) and decimal-exact mean updates.
    ``n_centroids="auto"`` applies the √n sizing rule
    (``resolve_n_centroids``).

    Determinism notes: init is order-free (keyed by hash(id), ties by
    id); assignment breaks distance ties by centroid index; per-cluster
    means come from 1e-8-quantized INT64 element sums (quantize each
    element, sum exactly — integer addition commutes, so reduction
    order cannot perturb the result; the dsir nano-unit convention).
    Centroids are (k × d) doubles — driver-resident, broadcast into
    the kernel's closure.

    The 100 TB shape (r8): each iteration is ONE fused Arrow pass —
    assign-and-partial-sum inside the kernel — shuffling at most
    tasks·k·(d+1) tiny partial rows. The original formulation shuffled
    the assignment back into a join with the corpus and posexploded
    n·d (cluster, dim, x) rows per iteration — a 64× data
    amplification through the shuffle at d=64, paid n_iters times;
    training now touches the corpus ``n_iters + 1`` times as pure
    scans with map-side aggregation. Partials are int64 per task
    (per-task cluster mass bounds them far under 2⁶³) and
    decimal(38,0) across tasks, so cross-task totals cannot silently
    overflow either.
    """
    n_centroids = resolve_n_centroids(embeddings, n_centroids, id_col=id_col)
    init_rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    centroids = np.array([np.asarray(r[1], dtype=np.float64) for r in init_rows])
    return _kmeans_iterate(embeddings, centroids, n_iters, id_col, vec_col)


def _count_and_kmeans_init(
    unit: DataFrame,
    k1_of_n,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, np.ndarray]:
    """Fused row count + content-hash k-means init in ONE driver job
    (r15, guide §5 — the hierarchical builders paid a count job and a
    separate init collect whose k depends on that count).

    A per-partition Arrow pass emits the partition's row count plus its
    top-``k_bound`` rows by ``(xxhash64(id), id)``; the driver sums the
    counts to the exact ``n``, resolves ``k1 = k1_of_n(n)`` and takes
    the global top-``k1`` from the union of the per-partition
    candidates — exactly the rows ``orderBy(xxhash64(id), id)
    .limit(k1).collect()`` returns, as long as ``k_bound >= k1``
    (every global top-k1 row is in its own partition's top-k1 ⊆
    top-k_bound). ``k_bound`` comes from an over-estimate of ``n`` off
    Catalyst's plan-size stat (driver-side, no job), padded 4x; if the
    estimate was still too small (k1 > k_bound), fall back to the
    exact two-job path — correctness never rests on the estimate.
    Candidate memory is bounded: each task keeps at most 2·k_bound
    rows, and the fusion is SKIPPED outright (two-job path, exactly
    the pre-r15 shape) when partitions × k_bound exceeds a driver
    budget — the union-of-partition-top-k collect grows with the task
    count while the exact path collects only k1 rows, so the fusion is
    a small-input job-count optimization, never the scale shape.
    """
    from actuarial_reserve_modelling_spark.operators import _plan_size_bytes

    def _exact_two_jobs() -> tuple[int, np.ndarray]:
        m = unit.count()
        kk = int(k1_of_n(m))
        init_rows = (
            unit.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(kk)
            .collect()
        )
        return m, np.array(
            [np.asarray(r[1], dtype=np.float64) for r in init_rows]
        )

    size = _plan_size_bytes(unit)
    # an (id, vector) row is never under 64 bytes, so n_hat >= n/4 ...
    # over-estimating n only grows k_bound (safe); cap keeps the
    # collect bounded; floor keeps tiny-estimate corpora exact
    if size is None:
        k_bound = 8192
    else:
        n_hat = max(1, size // 64)
        k_bound = max(64, min(8192, 4 * int(k1_of_n(4 * n_hat))))
    try:
        n_parts = int(unit._jdf.queryExecution().toRdd().getNumPartitions())
    except Exception:
        n_parts = int(unit.sparkSession.sparkContext.defaultParallelism)
    if n_parts * k_bound > 500_000:
        return _exact_two_jobs()
    hashed = unit.select(
        F.xxhash64(F.col(id_col)).alias("_h"),
        F.col(id_col).alias("_i"),
        F.col(vec_col).alias("_v"),
    )
    vec_type = unit.schema[vec_col].dataType
    schema = T.StructType(
        [
            T.StructField("_np", T.LongType()),
            T.StructField("_h", T.LongType()),
            T.StructField("_i", T.LongType()),
            T.StructField("_v", vec_type),
        ]
    )
    kb = int(k_bound)

    def kern(batches):
        import pyarrow as pa

        n_p = 0
        cand = None  # running top-kb candidate table, <= kb rows
        for batch in batches:
            if batch.num_rows == 0:
                continue
            n_p += batch.num_rows
            t = pa.Table.from_batches([batch])
            if cand is not None:
                t = pa.concat_tables([cand, t])
            h = t.column("_h").to_numpy(zero_copy_only=False)
            i = t.column("_i").to_numpy(zero_copy_only=False)
            order = np.lexsort((i, h))[:kb]
            cand = t.take(pa.array(order, type=pa.int64()))
        if n_p == 0:
            return
        m = cand.num_rows
        np_col = np.zeros(m, dtype=np.int64)
        np_col[0] = n_p
        yield pa.record_batch(
            [
                pa.array(np_col),
                cand.column("_h").combine_chunks(),
                cand.column("_i").combine_chunks(),
                cand.column("_v").combine_chunks(),
            ],
            names=["_np", "_h", "_i", "_v"],
        )

    import pyarrow as pa  # noqa: F401 — kernel closure import check

    rows = hashed.mapInArrow(kern, schema=schema).collect()
    n = int(sum(r["_np"] for r in rows))
    k1 = int(k1_of_n(n))
    if k1 > kb:
        # estimate too small — exact fallback (one extra job)
        init_rows = (
            unit.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(k1)
            .collect()
        )
        init = np.array([np.asarray(r[1], dtype=np.float64) for r in init_rows])
        return n, init
    top = sorted(rows, key=lambda r: (r["_h"], r["_i"]))[:k1]
    init = np.array([np.asarray(r["_v"], dtype=np.float64) for r in top])
    return n, init


def _kmeans_iterate(
    embeddings: DataFrame,
    centroids: np.ndarray,
    n_iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Lloyd iterations of ``ivf_train_centroids`` from explicit init
    centroids (split out r15 so the hierarchical builders can feed the
    fused count+init above); arithmetic unchanged."""
    part_schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            T.StructField("dim", T.IntegerType()),
            T.StructField("s", T.LongType()),
        ]
    )
    from actuarial_reserve_modelling_spark.operators import spread_for_kernel

    for _ in range(n_iters):
        cent = np.ascontiguousarray(centroids, dtype=np.float64)
        cent_sq = (cent * cent).sum(axis=1)
        k, d = cent.shape

        def partials(batches):
            import pyarrow as pa

            from actuarial_reserve_modelling_spark.operators.arrowkit import fixed_vecs

            sums = np.zeros((k, d), dtype=np.int64)
            counts = np.zeros(k, dtype=np.int64)
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                vecs = fixed_vecs(batch.column(vec_col), d=d)
                d2 = cent_sq[None, :] - 2.0 * (vecs @ cent.T)
                a = d2.argmin(axis=1)  # first occurrence -> lowest index
                np.add.at(sums, a, np.round(vecs * 1e8).astype(np.int64))
                np.add.at(counts, a, 1)
            nz = np.nonzero(counts)[0]
            cl = np.repeat(nz, d + 1).astype(np.int32)
            dims = np.tile(np.arange(-1, d, dtype=np.int32), len(nz))
            vals = np.concatenate(
                [np.concatenate(([counts[c]], sums[c])) for c in nz]
            ) if len(nz) else np.array([], dtype=np.int64)
            yield pa.record_batch(
                [
                    pa.array(cl, type=pa.int32()),
                    pa.array(dims, type=pa.int32()),
                    pa.array(vals.astype(np.int64)),
                ],
                names=["cluster", "dim", "s"],
            )

        rows = (
            spread_for_kernel(embeddings.select(id_col, vec_col))
            .mapInArrow(partials, schema=part_schema)
            .groupBy("cluster", "dim")
            .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
            .collect()
        )
        counts = {r["cluster"]: int(r["s"]) for r in rows if r["dim"] == -1}
        new_centroids = centroids.copy()  # empty clusters keep their centroid
        for r in rows:
            if r["dim"] >= 0:
                c = r["cluster"]
                new_centroids[c, r["dim"]] = (float(r["s"]) / 1e8) / counts[c]
        centroids = new_centroids
    return centroids


def ivf_assign(
    embeddings: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    carry_vec: bool = False,
    with_rank: bool = False,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by L2
    (ties → lowest centroid index). One Arrow kernel pass: (batch × d)
    @ (d × k) — the coarse-quantizer matmul every IVF implementation
    runs; centroids ride along in the task closure (k·d doubles).

    ``carry_vec=True`` additionally passes the input vector through to
    every emitted (id, cluster) row (zero-copy Arrow take) — for
    callers that need the vectors alongside the assignment
    (``_hierarchical_ivf_lists``'s level-2 shuffle): attaching them
    with an id-keyed join instead costs a full shuffle of the vector
    rows at corpus scale (r14).

    ``with_rank=True`` (r15) adds a ``_rank`` column (0 = nearest) —
    ``_stable_top_nprobe`` emits probes rank-ordered, so ``_rank == 0``
    IS the hard top-1 assignment (identical to a separate
    ``nprobe=1`` call: both are the lexicographic (distance, index)
    minimum). The ``cluster`` field's metadata then carries an
    ``arm_centroids`` md5 of the centroid matrix bytes, so a consumer
    accepting a precomputed assignment (``add_to_ann_index``) can
    verify it was routed against the SAME centroids."""
    fields = [
        T.StructField(id_col, T.LongType()),
        T.StructField("cluster", T.IntegerType()),
    ]
    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    if with_rank:
        import hashlib

        fields[1] = T.StructField(
            "cluster",
            T.IntegerType(),
            metadata={"arm_centroids": hashlib.md5(cent.tobytes()).hexdigest()},
        )
        fields.append(T.StructField("_rank", T.IntegerType()))
    if carry_vec:
        fields.append(
            T.StructField(vec_col, embeddings.schema[vec_col].dataType)
        )
    schema = T.StructType(fields)
    cent_sq = (cent * cent).sum(axis=1)

    def kernel(batches):
        import pyarrow as pa

        from actuarial_reserve_modelling_spark.operators.arrowkit import fixed_vecs, int_col

        for batch in batches:
            if batch.num_rows == 0:
                continue
            vecs = fixed_vecs(batch.column(vec_col), d=cent.shape[1])
            # ||v-c||² = ||v||² - 2 v·c + ||c||²; ||v||² constant per row
            d2 = cent_sq[None, :] - 2.0 * (vecs @ cent.T)
            # O(k) selection with the same tie rule as stable argsort
            order = _stable_top_nprobe(d2, nprobe)
            m = order.shape[1]
            cols = [
                pa.array(np.repeat(int_col(batch.column(id_col)), m)),
                pa.array(order.astype(np.int32).ravel(), type=pa.int32()),
            ]
            names = [id_col, "cluster"]
            if with_rank:
                cols.append(
                    pa.array(
                        np.tile(np.arange(m, dtype=np.int32), batch.num_rows),
                        type=pa.int32(),
                    )
                )
                names.append("_rank")
            if carry_vec:
                vcol = batch.column(vec_col)
                if isinstance(vcol, pa.ChunkedArray):
                    vcol = vcol.combine_chunks()
                idx = pa.array(np.repeat(np.arange(batch.num_rows), m))
                cols.append(vcol.take(idx))
                names.append(vec_col)
            yield pa.record_batch(cols, names=names)

    from actuarial_reserve_modelling_spark.operators import spread_for_kernel

    return spread_for_kernel(embeddings.select(id_col, vec_col)).mapInArrow(
        kernel, schema=schema
    )


def _ivf_residuals(
    with_cluster: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, vec) → (id, cluster, vec − centroid[cluster]):
    the IVF-PQ residual pass as one Arrow batch subtraction, centroids
    in the task closure (k·d doubles — bounded by the √n centroid rule
    at a few MB even for 10⁹-vector corpora)."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
        ]
    )
    cent = np.ascontiguousarray(centroids, dtype=np.float64)

    def kernel(batches):
        import pyarrow as pa

        from actuarial_reserve_modelling_spark.operators.arrowkit import (
            fixed_vecs,
            int_col,
            rows_to_list_array,
        )

        for batch in batches:
            if batch.num_rows == 0:
                continue
            vecs = fixed_vecs(batch.column(vec_col), d=cent.shape[1])
            clusters = int_col(batch.column("cluster"))
            res = vecs - cent[clusters]
            yield pa.record_batch(
                [
                    pa.array(int_col(batch.column(id_col))),
                    pa.array(clusters.astype(np.int32), type=pa.int32()),
                    rows_to_list_array(res, pa.float64()),
                ],
                names=[id_col, "cluster", vec_col],
            )

    return with_cluster.select(id_col, "cluster", vec_col).mapInArrow(
        kernel, schema=schema
    )


def ann_ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int | str = 16,
    nprobe: int | str = 6,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: k-means coarse quantizer → corpus partitioned into
    inverted lists → each query probes its ``nprobe`` nearest lists →
    exact cosine re-rank of candidates only.

    The 100 TB shape: centroids are tiny and global; the corpus is
    scanned once to build (cluster → members) — in production that
    assignment is *persisted* (partitioned by cluster) and amortized
    across every subsequent query batch, so per-query cost is
    nprobe/n_centroids of a full scan plus the re-rank. Recall depends
    on how clustered the corpus is; on near-uniform vectors it
    approaches the probed-fraction baseline (test asserts the measured
    bound), on real clustered embeddings it is far higher.

    ``n_centroids="auto"`` applies the √n rule (resolve_n_centroids);
    ``nprobe="auto"`` then tracks it at max(8, n_centroids // 8) so the
    probed fraction of lists stays fixed as the corpus grows instead of
    silently shrinking.

    Honest cost statement for the flat quantizer: training/assignment
    is O(n·√n·d) FLOPs per pass and the (√n × d) centroid matrix rides
    in every task closure (~16 MB at 10⁹ vectors, d=64) — acceptable
    into the 10⁷ range, but beyond it prefer ``ann_ivf_hier_topk``:
    same probe contract, O(n^(5/4)·d) build, no fine-quantizer state
    on the driver (cost table in BASELINE.md).
    """
    n_centroids = resolve_n_centroids(embeddings, n_centroids, id_col=id_col)
    if nprobe == "auto":
        nprobe = max(8, n_centroids // 8)
    centroids = ivf_train_centroids(
        embeddings, n_centroids=n_centroids, n_iters=n_iters, id_col=id_col, vec_col=vec_col
    )
    lists = ivf_assign(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    return ann_ivf_topk_indexed(
        lists,
        centroids,
        embeddings,
        queries,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
    )


def ann_ivf_topk_indexed(
    lists: DataFrame,
    centroids: np.ndarray,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query an EXISTING IVF index: ``lists`` is a persisted
    (id, cluster) assignment (``ivf_assign`` output, in production
    partitioned by cluster) built with ``centroids``. This is the
    incremental-ingest shape for similarity search: centroids are
    trained once, each arriving vector batch is assigned map-side
    against them (``ivf_assign`` — no retraining, no index rebuild) and
    appended to ``lists``, and query batches probe the union. Per-query
    cost is nprobe/n_centroids of a scan plus the exact re-rank —
    independent of how many batches built the index."""
    probes = ivf_assign(
        queries, centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe
    ).select(F.col(id_col).alias("query_id"), "cluster")
    cand = (
        lists.join(F.broadcast(probes), "cluster")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    return _rerank_topk(cand, embeddings, queries, k, id_col=id_col, vec_col=vec_col)


def _rerank_topk(
    cand: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Shared exact-cosine re-rank tail of every blocked ANN path:
    (query_id, neighbor_id) candidates → full-width vectors joined back
    (queries broadcast per the bounded-query contract; the corpus side
    is the unbounded one and joins shuffled/AQE) → 6-dp rounded sim →
    top-k per query with ties broken by neighbor id."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        dot(vec_col, vec_col).alias("dqq"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        dot(vec_col, vec_col).alias("dcc"),
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_from_sq("qvec", "cvec", "dqq", "dcc"), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def _rerank_topk_from_cand_vecs(
    cand: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``_rerank_topk`` for candidates that ALREADY CARRY their vector
    — (query_id, neighbor_id, cvec) from a vector-bearing persisted
    index. No corpus join: the only inputs are the pruned candidate
    rows and the broadcast bounded query batch. Numerically identical
    to ``_rerank_topk``: ``dot(x, x)`` yields the same double wherever
    it is evaluated and parquet preserves vector bits, so the rounded
    ``sim`` hashes equal between the corpus-join and index-vector
    paths (pinned by the roundtrip pytest)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        dot(vec_col, vec_col).alias("dqq"),
    )
    scored = (
        cand.withColumn("dcc", dot("cvec", "cvec"))
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_from_sq("qvec", "cvec", "dqq", "dcc"), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def ivf_hier_build(
    embeddings: DataFrame,
    n_lists: int | str = "auto",
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_cap: int = _GROUP_CAP,
) -> tuple[DataFrame, np.ndarray]:
    """Build a TWO-LEVEL IVF index (the FAISS inverted-multi-index
    shape) for ANN top-k at scales where the flat √n quantizer stops
    being honest. The flat ``ann_ivf_topk`` trains k = √n centroids on
    the driver: at 10⁹ vectors that is O(n^1.5·d) assignment FLOPs per
    k-means pass and a 16 MB matrix in every task closure — workable
    but already the dominant build cost, and every constant-factor is
    paid n_iters+1 times. Here level 1 trains only ``k1 = ⌈√k⌉ ≈
    n^(1/4)`` super-centroids with the shared driver-side k-means
    (O(n·n^(1/4)·d) per pass, O(n^(1/4)·d) driver state), hard-assigns
    the corpus, and each super-list trains its own children in ONE
    executor task (``_local_kmeans``, the same determinism rules),
    sizing ``k2 = members // (n // k)`` so the total child count tracks
    the √n list rule. Total level-2 training work is O(n·n^(1/4)·d) —
    the quartic-root factor replaces the flat path's square root at
    every stage.

    Returns ``(index, super_centroids)`` where ``index`` is ONE
    localCheckpointed DataFrame carrying both outputs of the build
    pass (recomputing lineage would retrain k-means per downstream
    reference):

    * member rows — (vec_id, super, child, centroid=NULL): the
      inverted lists, in production persisted partitioned by
      (super, child);
    * centroid rows — (vec_id=NULL, super, child, centroid): the child
      centroids AS ROWS, never driver state — query routing joins them
      by probed super, so the O(√n·d) fine-quantizer state that the
      flat path ships in every task closure stays distributed.

    Split with ``F.col(id_col).isNotNull()`` / ``isNull()``; query with
    ``ann_ivf_hier_topk_indexed``. Identical vectors receive identical
    (super, child) assignments at both levels — since r9 STRUCTURALLY:
    bitwise-identical vectors are digest-collapsed to one rep before
    any training (``_collapse_units``; duplicate-heavy corpora train
    on the distinct vectors only, so a 30%-duplicate corpus builds
    CHEAPER, not hotter), and member rows are expanded back from the
    rep assignments afterwards — which is what makes the planted-twin
    hash oracle possible for this path.

    ``group_cap`` is the HARD per-task row bound (r9): expected sizing
    keeps level-2 groups far below it, but a single-cluster corpus can
    put most reps into one super regardless of k1. Oversized supers
    are deterministically hash-split into ``ceil(size/(cap·3/4))``
    slices pre-shuffle; each slice trains children over its uniform
    sample of the super (child ids strided by ``slot·group_cap`` so
    they stay unique within the super, transparent to query routing —
    a probed super simply exposes all slices' child centroids), and
    the kernel raises loudly past the cap. Slices are bounded at 8192
    per super before child ids would overflow int32 at the default
    cap — 2.1·10⁹ rows in ONE super — checked loudly in the kernel."""
    import math

    # r9: collapse bitwise-identical vectors first; the quantizer sees
    # one rep per distinct vector (see _collapse_units)
    reps, memb = _collapse_units(embeddings, id_col, vec_col)

    def _k1_of_n(m: int) -> int:
        nl = max(16, math.isqrt(m)) if n_lists == "auto" else n_lists
        return max(4, math.isqrt(nl), m // group_cap)

    # r15: ONE fused job replaces the reps count + the init collect
    n, init = _count_and_kmeans_init(reps, _k1_of_n, id_col=id_col, vec_col=vec_col)
    if n_lists == "auto":
        n_lists = max(16, math.isqrt(n))
    # Super count balances THREE constraints: enough supers for the
    # hierarchy (sqrt of the list target), driver state O(k1*d), and —
    # the binding one at 10^9 rows — per-TASK group memory: one
    # super-list is materialized per level-2 task, so without a cap the
    # expected group is n/k1 = O(n^(3/4)) rows (~2.9 GB at 10^9, d=64).
    # group_cap rows (~134 MB) bounds that; the extra supers it forces
    # keep driver state tiny (n/262k centroids = ~2 MB at 10^9) and only
    # deepen the hierarchy's fan-out. Below the cap (every test/bench
    # scale) the term is 0 and sizing is unchanged. A third level is the
    # escape hatch past ~10^11 rows, where even capped-k1 driver state
    # grows linearly with its 4e-6 constant. The hash sub-split below
    # handles the SKEWED case the expected-case sizing cannot.
    k1 = _k1_of_n(n)
    leaf = max(1, n // n_lists)
    super_cent = _kmeans_iterate(
        reps, init, n_iters=n_iters, id_col=id_col, vec_col=vec_col
    )
    # r14: the hard assignment runs twice (counts pass + membership
    # pass, vectors carried through the second) instead of once into a
    # checkpoint + an id-keyed vector join — the join is a full shuffle
    # of the member vector rows at corpus scale, the matmul re-run is
    # cheap executor compute over the checkpointed reps. ``counts`` is
    # k1-bounded either way.
    split_target = max(1, (group_cap * 3) // 4)
    if n <= split_target:
        # r15 (guide §2.4): with n ≤ split_target no super can exceed
        # the split threshold, so the guard is an identity — _slot =
        # pmod(xxhash64(id, 47), 1) = 0 for every row. Skip the counts
        # assignment pass, its aggregate and the broadcast join; n is
        # already known from the reps count. Unchanged past the cap.
        members = ivf_assign(
            reps, super_cent, id_col=id_col, vec_col=vec_col, carry_vec=True
        ).select(
            id_col,
            vec_col,
            F.col("cluster").alias("_super"),
            F.lit(0).cast("long").alias("_slot"),
        )
    else:
        sup = ivf_assign(reps, super_cent, id_col=id_col, vec_col=vec_col)
        counts = sup.groupBy("cluster").agg(F.count(F.lit(1)).alias("_gsz"))
        members = (
            ivf_assign(
                reps, super_cent, id_col=id_col, vec_col=vec_col, carry_vec=True
            )
            .join(F.broadcast(counts), "cluster")
            .select(
                id_col,
                vec_col,
                F.col("cluster").alias("_super"),
                F.pmod(
                    F.xxhash64(F.col(id_col), F.lit(47)),
                    F.ceil(F.col("_gsz") / F.lit(split_target)).cast("long"),
                ).alias("_slot"),
            )
        )
    iters = n_iters
    cap = group_cap  # closure-captured so tests can shrink it per call
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("super", T.IntegerType()),
            T.StructField("child", T.IntegerType()),
            T.StructField("centroid", T.ArrayType(T.DoubleType())),
        ]
    )

    def build(table):
        # applyInArrow (r8): same sort-by-unique-id row pinning as the
        # pandas form, vectors straight off the Arrow buffers. Member
        # rows carry a NULL centroid and centroid rows a NULL id — the
        # two validity masks express that directly.
        import pyarrow as pa

        from actuarial_reserve_modelling_spark.operators.arrowkit import (
            fixed_vecs,
            int_col,
            rows_to_list_array,
        )

        ids = int_col(table.column(id_col))
        order = np.argsort(ids)
        ids = ids[order]
        sup_id = int(int_col(table.column("_super"))[0])
        slot = int(int_col(table.column("_slot"))[0])
        size = len(ids)
        if size > cap:
            raise ValueError(
                f"ivf_hier_build group (super {sup_id}, slot {slot}) "
                f"materialized {size} rows > group_cap {cap} — the "
                "pre-shuffle sub-split failed"
            )
        # child ids are strided by slot so slices of one super never
        # collide; int32 bounds the slice count
        child_base = slot * cap
        if child_base + cap >= 2**31:
            raise ValueError(
                f"slot {slot} would overflow int32 child ids at cap {cap}"
            )
        k2 = max(1, size // leaf)
        vecs = fixed_vecs(table.column(vec_col))[order]
        if k2 == 1:
            cent = vecs.mean(axis=0, keepdims=True) if size else vecs
            assign = np.zeros(size, dtype=np.int64)
        else:
            cent = _local_kmeans(vecs, ids, k2, iters)
            d2 = (cent * cent).sum(1)[None, :] - 2.0 * (vecs @ cent.T)
            assign = d2.argmin(axis=1)  # hard, lowest-index ties
        nc = len(cent)
        id_arr = pa.array(
            np.concatenate([ids, np.zeros(nc, dtype=np.int64)]),
            mask=np.concatenate([np.zeros(size, bool), np.ones(nc, bool)]),
        )
        cent_list = rows_to_list_array(cent, pa.float64())
        centroid_arr = pa.concat_arrays(
            [pa.nulls(size, type=pa.list_(pa.float64())), cent_list]
        )
        return pa.table(
            {
                id_col: id_arr,
                "super": pa.array(
                    np.full(size + nc, sup_id, dtype=np.int32), type=pa.int32()
                ),
                "child": pa.array(
                    child_base
                    + np.concatenate(
                        [assign.astype(np.int32), np.arange(nc, dtype=np.int32)]
                    ),
                    type=pa.int32(),
                ),
                "centroid": centroid_arr,
            }
        )

    rep_index = members.groupBy("_super", "_slot").applyInArrow(build, schema=schema)
    # expansion: every member of a collapsed duplicate group inherits
    # its rep's (super, child) row; centroid rows pass through. The
    # join keys on _rep — skewed for dup-heavy corpora, but the index
    # side carries exactly one row per rep, so it streams.
    expanded = (
        rep_index.filter(F.col(id_col).isNotNull())
        .withColumnRenamed(id_col, "_rep")
        .join(memb, "_rep")
        .select(F.col("_m").alias(id_col), "super", "child", "centroid")
    )
    index = expanded.unionByName(rep_index.filter(F.col(id_col).isNull()))
    # one materialization: downstream splits this frame twice (lists +
    # centroid table) and Spark would otherwise re-run the whole build
    # — including k-means training — once per reference
    return index.localCheckpoint(eager=False), super_cent


def ann_ivf_hier_topk_indexed(
    index: DataFrame,
    super_cent: np.ndarray,
    embeddings: DataFrame | None,
    queries: DataFrame,
    k: int = 5,
    nprobe_super: int = 4,
    child_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_cap: int = _GROUP_CAP,
    _probes: DataFrame | None = None,
) -> DataFrame:
    """Query a persisted two-level IVF index (``ivf_hier_build``).
    Routing: each query soft-assigns to its ``nprobe_super`` nearest
    super-centroids (the tiny driver-side matrix, the SAME
    ``ivf_assign`` kernel the build used for its hard assignment),
    joins the probed supers' child-centroid ROWS (≈ n^(1/4) rows per
    probed super instead of the flat path's √n distance computations),
    and keeps its ``child_probe`` nearest children PER probed super —
    ranked inside a kernel with the same numpy distance expression and
    the same lowest-index tie rule as the build's member assignment.
    The members of those nprobe_super·child_probe lists are then
    exact-re-ranked; per-query scanned fraction ≈
    nprobe_super·child_probe/√n of the corpus.

    A query identical to an indexed vector retrieves it with
    probability 1: the query's top-1 super is the member's hard-
    assigned super (identical distance rows through the identical
    kernel), and within that super's SLICE its rank-1 child is the
    member's child — ranking is per (super, slot), where the slot is
    decoded from the child-id stride (``child // group_cap``; pass the
    build's ``group_cap`` if it was overridden). Per-slot ranking (not
    a global cut across supers, nor across one oversized super's hash
    slices) is what keeps the twin's child immune to crowding-out by
    other slices' children; for the non-split case slot is always 0
    and this reduces to the r8 per-super ranking exactly.

    ``_probes`` (internal, r15): a precomputed level-1 assignment of
    ``queries`` against ``super_cent`` (an ``ivf_assign`` output over
    the same kernel — the persisted wrapper passes its checkpointed
    probe frame); skips re-running the assignment kernel here, with
    identical results by determinism of the assignment."""
    raw = (
        _probes
        if _probes is not None
        else ivf_assign(
            queries, super_cent, id_col=id_col, vec_col=vec_col, nprobe=nprobe_super
        )
    )
    probes = raw.select(F.col(id_col).alias("query_id"), F.col("cluster").alias("super"))
    cents = index.filter(F.col(id_col).isNull()).select("super", "child", "centroid")
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    routing = (
        cents.join(F.broadcast(probes), "super")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "super",
            "child",
            "centroid",
            "qvec",
            F.floor(F.col("child") / F.lit(int(group_cap))).cast("int").alias("_slot"),
        )
    )
    m = child_probe
    route_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("super", T.IntegerType()),
            T.StructField("child", T.IntegerType()),
        ]
    )

    def route(pdf: pd.DataFrame) -> pd.DataFrame:
        # one (query, probed super) group: rank this super's children
        # for this query with the build kernel's arithmetic
        pdf = pdf.sort_values("child", kind="mergesort").reset_index(drop=True)
        cent = np.array([np.asarray(c, dtype=np.float64) for c in pdf["centroid"]])
        qv = np.asarray(pdf["qvec"].iloc[0], dtype=np.float64)[None, :]
        d2 = (cent * cent).sum(1)[None, :] - 2.0 * (qv @ cent.T)
        keep = _stable_top_nprobe(d2, min(m, len(cent)))[0]
        return pd.DataFrame(
            {
                "query_id": np.full(len(keep), np.int64(pdf["query_id"].iloc[0])),
                "super": np.full(len(keep), np.int32(pdf["super"].iloc[0])),
                "child": pdf["child"].to_numpy(dtype=np.int32)[keep],
            }
        )

    probed_children = routing.groupBy("query_id", "super", "_slot").applyInPandas(
        route, schema=route_schema
    )
    if embeddings is None:
        # corpus-scan-free rerank: the index itself carries the member
        # vectors (vector-bearing persisted layout), so candidates leave
        # the probed partitions WITH their vector and the exact rerank
        # never touches the corpus table (r9 verdict finding #1)
        if "vec" not in index.columns:
            raise ValueError(
                "ann_ivf_hier_topk_indexed: embeddings=None requires a "
                "vector-bearing index (persist_ann_index(embeddings=...)); "
                "this index has no 'vec' column"
            )
        lists = index.filter(F.col(id_col).isNotNull()).select(
            id_col, "super", "child", "vec"
        )
        cand = (
            lists.join(F.broadcast(probed_children), ["super", "child"])
            .filter(F.col(id_col) != F.col("query_id"))
            .select(
                "query_id",
                F.col(id_col).alias("neighbor_id"),
                F.col("vec").alias("cvec"),
            )
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        return _rerank_topk_from_cand_vecs(
            cand, queries, k, id_col=id_col, vec_col=vec_col
        )
    lists = index.filter(F.col(id_col).isNotNull()).select(id_col, "super", "child")
    cand = (
        lists.join(F.broadcast(probed_children), ["super", "child"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    return _rerank_topk(cand, embeddings, queries, k, id_col=id_col, vec_col=vec_col)


def ann_ivf_hier_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int | str = "auto",
    nprobe_super: int = 4,
    child_probe: int = 2,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_cap: int = _GROUP_CAP,
) -> DataFrame:
    """Build-and-query convenience over ``ivf_hier_build`` +
    ``ann_ivf_hier_topk_indexed`` — the one-shot form mirroring
    ``ann_ivf_topk``. Production keeps the built index and calls the
    indexed form per query batch (passing the same ``group_cap`` it
    built with, which decodes the child-id slot stride)."""
    index, super_cent = ivf_hier_build(
        embeddings,
        n_lists=n_lists,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
        group_cap=group_cap,
    )
    return ann_ivf_hier_topk_indexed(
        index,
        super_cent,
        embeddings,
        queries,
        k=k,
        nprobe_super=nprobe_super,
        child_probe=child_probe,
        id_col=id_col,
        vec_col=vec_col,
        group_cap=group_cap,
    )


# The hierarchical index's partitioned datasets (supers/ and meta/ are
# single-file and driver-resident).
_MEMBERS = Dataset("members", "super")
_CHILDREN = Dataset("children", "super")


@leased("path")
def persist_ann_index(
    index: DataFrame,
    super_cent: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    embeddings: DataFrame | None = None,
    vec_col: str = "embedding",
    group_cap: int = _GROUP_CAP,
) -> None:
    """Persist a two-level IVF index (``ivf_hier_build`` output) as the
    build-once/query-many production layout:

    * ``members/`` — (id, child[, vec]) parquet, hive-PARTITIONED BY
      ``super``: the only corpus-sized dataset, laid out on the key
      every query batch filters on, so a pruned read touches
      ~nprobe_super/k1 of the index bytes instead of all of them — at
      10⁹ vectors that is the difference between scanning gigabytes and
      scanning the whole index per batch;
    * ``children/`` — (child, centroid) rows, same partitioning (tiny:
      ~n^(1/2) rows total, but routing reads them per probed super too);
    * ``supers/`` — the k1 (≈ n^(1/4)) super-centroid rows, the only
      piece small enough to live driver-side, reloaded into the same
      ndarray the build returned (parquet doubles are bitwise-exact, so
      a reloaded index routes IDENTICALLY to the in-memory one);
    * ``meta/`` — one row of build parameters (``group_cap``, whether
      vectors are stored, the layout version). Query/ingest paths
      default to the PERSISTED group_cap, so an index built with a
      non-default cap decodes its child-id slot stride correctly even
      when the caller forgets to repeat the knob.

    Pass ``embeddings`` (the corpus the index was built over) to store
    each member's VECTOR inside its members/ row — one extra array
    column of storage, bitwise-preserved by parquet — which is what
    makes the persisted QUERY path corpus-scan-free: the exact rerank
    reads candidate vectors out of the probed partitions instead of
    joining ids back against the full corpus table (at 10⁹ vectors the
    id-only layout pays a corpus scan per query batch).
    Omit it for the slim id-only layout when the corpus table is cheap
    to co-read (opt-out, not the default in the registry queries).

    Writers repartition by the partition column first — few large files
    per directory, not one file per task per super (the small-files
    failure mode at 100 TB)."""
    spark = index.sparkSession
    members = index.filter(F.col(id_col).isNotNull()).select(id_col, "child", "super")
    n_members = None
    if embeddings is not None:
        # LEFT join + loud mismatch checks: an inner join
        # would silently DROP members absent from the passed corpus
        # frame, and duplicate ids in it would silently DUPLICATE member
        # rows — both corrupt the index with no signal. A missing vector
        # aborts the write itself (per-row raise_error, free inside the
        # single write pass); duplicates are caught by comparing the
        # pre-join member count against the written row count (the
        # read-back count is parquet-metadata-only), BEFORE children/
        # supers/meta are written — a failed persist leaves no readable
        # index, never a silently wrong one.
        n_members = members.count()
        members = members.join(
            embeddings.select(id_col, F.col(vec_col).alias("vec")), id_col, "left"
        ).select(
            id_col,
            "child",
            F.when(
                F.col("vec").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "persist_ann_index: no vector in the passed "
                            f"embeddings frame for member {id_col}="
                        ),
                        F.col(id_col).cast("string"),
                        F.lit(
                            " — the corpus frame does not match the index; "
                            "refusing to persist a silently shrunken index"
                        ),
                    )
                ),
            )
            .otherwise(F.col("vec"))
            .alias("vec"),
            "super",
        )
    _MEMBERS.write(members, path, "overwrite")
    if n_members is not None:
        n_written = spark.read.parquet(path + "/members").count()
        if n_written != n_members:
            raise ValueError(
                f"persist_ann_index: embeddings frame holds duplicate "
                f"{id_col} values ({n_written} written member rows for "
                f"{n_members} members) — refusing to persist a silently "
                "inflated index (members/ is partial; re-run persist "
                "with a deduplicated corpus frame)"
            )
    children = index.filter(F.col(id_col).isNull()).select("child", "centroid", "super")
    _CHILDREN.write(children, path, "overwrite")
    sup_rows = [(i, [float(x) for x in row]) for i, row in enumerate(super_cent)]
    spark.createDataFrame(
        sup_rows, schema="super int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/supers")
    write_meta(
        spark,
        path,
        group_cap=int(group_cap),
        has_vectors=embeddings is not None,
        layout_version=2,
    )


def read_ann_index_meta(spark: SparkSession, path: str) -> dict:
    """Build parameters persisted alongside the index (``meta/``).
    Layouts from before meta/ existed return the historical defaults so
    old indexes keep answering identically. ONLY a genuinely-absent path
    takes that fallback, and the fallback is never cached: a transient
    read failure — permissions, storage hiccup — must surface as an
    error, not silently pin the historical defaults for the process
    lifetime and mis-decode the child-id slot stride on an index built
    with a non-default group_cap."""
    return read_meta(
        spark,
        path,
        "persist_ann_index",
        {"group_cap": int, "has_vectors": bool, "layout_version": int},
        missing=lambda e: {
            "group_cap": _GROUP_CAP, "has_vectors": False, "layout_version": 1
        },
    )


def load_ann_index(
    spark: SparkSession,
    path: str,
    id_col: str = "vec_id",
    supers: list[int] | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """Reload a ``persist_ann_index`` layout into the exact shape
    ``ann_ivf_hier_topk_indexed`` consumes. ``supers`` (the distinct
    super ids a query batch probes — bounded by the bounded-query
    contract at |queries|·nprobe_super values) prunes BOTH scans to the
    probed partition directories; the reassembled frame is then exactly
    the subset the indexed query's joins would have kept, so pruned and
    full loads answer identically (pinned by the roundtrip pytest).
    Vector-bearing layouts (``persist_ann_index(embeddings=...)``)
    reload with a ``vec`` column on the member rows (NULL on centroid
    rows), which downstream queries use for the corpus-scan-free
    rerank."""
    index = _load_ann_frames(spark, path, id_col=id_col, supers=supers)
    return index, _load_ann_supers(spark, path)


def _load_ann_supers(spark: SparkSession, path: str) -> np.ndarray:
    """The driver-resident piece of a persisted index: the k1 super
    centroids, reloaded bitwise into the build's ndarray shape. Cached
    per process (supers/ is immutable post-persist)."""

    def load() -> np.ndarray:
        sup = spark.read.parquet(path + "/supers").orderBy("super").collect()
        arr = np.array([np.asarray(r["centroid"], dtype=np.float64) for r in sup])
        arr.setflags(write=False)
        return arr

    return cached_piece(path, "ann_supers", load)


def _load_ann_frames(
    spark: SparkSession,
    path: str,
    id_col: str = "vec_id",
    supers: list[int] | None = None,
) -> DataFrame:
    """The distributed piece: members + child centroids reassembled
    into the ``ann_ivf_hier_topk_indexed`` input frame, optionally
    pruned to the probed supers (split out of ``load_ann_index`` so the
    persisted query path reads the supers dataset exactly once)."""
    members = _MEMBERS.read(spark, path, supers)
    children = _CHILDREN.read(spark, path, supers)
    mcols = [
        F.col(id_col).cast("long"),
        F.col("super").cast("int"),
        F.col("child").cast("int"),
        F.lit(None).cast("array<double>").alias("centroid"),
    ]
    ccols = [
        F.lit(None).cast("long").alias(id_col),
        F.col("super").cast("int"),
        F.col("child").cast("int"),
        F.col("centroid"),
    ]
    if "vec" in members.columns:
        vtype = members.schema["vec"].dataType
        mcols.append(F.col("vec"))
        ccols.append(F.lit(None).cast(vtype).alias("vec"))
    return members.select(*mcols).unionByName(children.select(*ccols))


@leased("path")
def add_to_ann_index(
    spark: SparkSession,
    path: str,
    new_embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_cap: int | None = None,
    check_existing: bool = True,
    preassigned: DataFrame | None = None,
) -> None:
    """Incremental ingest into a persisted hierarchical index (the ANN
    analogue of the l18/l19 incremental-dedup tiers): route each new
    vector to its hard (top-1) super with the SAME ``ivf_assign``
    kernel the build used, then to the nearest child centroid within
    that super (ties by lowest child id — the build kernel's own
    rule), and APPEND the new member rows to their super's partition
    directories. Per-batch cost is the batch's routing + a
    partition-local append — no retrain, no rebuild, untouched supers
    gain no files. On a vector-bearing layout
    (``persist_ann_index(embeddings=...)``) the batch's vectors ride
    through the routing kernel untouched into the member rows, keeping
    the corpus-scan-free query contract true across ingests.

    A RETRIED batch is idempotent by default: the batch is
    anti-joined against the existing member ids of its hard supers —
    a read pruned to exactly those partition directories, so the check
    costs the probed fraction of the index, never a full scan. Ids
    already present append nothing; a crash mid-append heals on
    re-run. ``check_existing=False`` skips the read when the caller
    guarantees exactly-once ids upstream (epoch-keyed ingest, or
    ``persist_ann_index``'s overwrite clearing partial appends).

    An added vector bitwise-identical to an indexed member lands in
    its member's SUPER with probability 1 (identical hard-assign
    rows), and in its member's exact child whenever that super was not
    sub-split at build time (one child set, identical argmin). If the
    build DID slice the super, the member's child was trained on its
    hash slice while the add routes to the globally nearest child —
    possibly another slice's — but retrieval is unaffected either way:
    the chosen child is the identical query vector's global rank-1 and
    therefore its own slot's rank-1, so the per-(super, slot) query
    routing always probes it. That weaker-but-sufficient guarantee is
    what the planted-twin oracle (l35) actually pins. The batch is NOT
    bounded by the query contract, so routing is a COGROUPED Arrow
    kernel per (super, slot) — batch vectors on one side, the super's
    child-centroid rows on the other, one matmul per group (never a
    Python call per vector) — with the build's own hash sub-split
    bounding a skewed batch's hottest super at ``group_cap`` rows per
    task; only the super-centroid matrix (k1·d, the driver-resident
    piece by design) is broadcast.

    ``group_cap=None`` (default) resolves to the PERSISTED
    build cap from ``meta/`` — the same rule as
    ``ann_ivf_hier_topk_persisted`` — so an index persisted with a
    smaller memory-bounding cap keeps its per-task row bound on ingest
    without the caller repeating the knob.

    ``preassigned``: a rank-ordered level-1 probe frame over a
    SUPERSET of the batch's ids (``ann_ivf_hier_topk_persisted(...,
    return_probes=True)`` — the ingest gate's query probes); a batch id
    it does not cover raises a ValueError naming the id. Its
    ``_rank == 0`` rows are the lexicographic (distance, index) minimum
    per vector, i.e. EXACTLY the hard assignment a fresh ``ivf_assign``
    would compute, so the appended rows are identical while the batch's
    level-1 matmul runs once per gate step instead of twice. The frame
    must have been routed against THIS tier's super centroids — checked
    loudly via the ``arm_centroids`` fingerprint ``ivf_assign`` stamps
    into the ``cluster`` field metadata (md5 of the centroid bytes)."""
    meta = read_ann_index_meta(spark, path)
    if group_cap is None:
        group_cap = meta["group_cap"]
    store_vec = meta["has_vectors"]
    super_cent = _load_ann_supers(spark, path)
    if preassigned is not None:
        import hashlib

        want = hashlib.md5(
            np.ascontiguousarray(super_cent, dtype=np.float64).tobytes()
        ).hexdigest()
        got = (preassigned.schema["cluster"].metadata or {}).get("arm_centroids")
        if got != want:
            raise ValueError(
                "add_to_ann_index: preassigned probes were routed against "
                f"DIFFERENT super centroids than this tier ({got!r} != "
                f"{want!r}) — pass the probe frame returned by this tier's "
                "own query, or omit preassigned to re-route"
            )
        if "_rank" not in preassigned.columns:
            raise ValueError(
                "add_to_ann_index: preassigned frame lacks the _rank "
                "column — pass the with_rank=True ivf_assign output "
                "(ann_ivf_hier_topk_persisted(..., return_probes=True))"
            )
        hard = preassigned.filter(F.col("_rank") == 0).select(
            id_col, F.col("cluster").cast("int").alias("super")
        )
        # left join: a batch id the probe frame does not cover keeps a
        # null super, which the distinct-supers collect below reports
        newrows = new_embeddings.select(id_col, vec_col).join(hard, id_col, "left")
    else:
        hard = ivf_assign(
            new_embeddings, super_cent, id_col=id_col, vec_col=vec_col
        ).select(id_col, F.col("cluster").cast("int").alias("super"))
        newrows = new_embeddings.select(id_col, vec_col).join(hard, id_col)
    if check_existing or preassigned is not None:
        # the distinct supers the batch routes to (≤ k1 ints): they bound
        # the idempotency read below, and a null among them is a batch id
        # the preassigned probes missed — fail loudly, never drop the row
        batch_supers = [
            r["super"] for r in newrows.select("super").distinct().collect()
        ]
        if None in batch_supers:
            missing = sorted(
                int(r[id_col])
                for r in newrows.filter(F.col("super").isNull())
                .select(id_col)
                .limit(20)
                .collect()
            )
            raise ValueError(
                f"add_to_ann_index: preassigned probe frame does not cover "
                f"batch ids {missing} (at most 20 shown) — pass probes over a "
                "superset of the batch's ids, or omit preassigned to re-route"
            )
    if check_existing:
        # idempotent retry: drop batch ids already indexed, reading only
        # the batch's own hard-super partition directories
        newrows = _MEMBERS.unindexed(spark, path, newrows, id_col, batch_supers)
    split_target = max(1, (group_cap * 3) // 4)
    counts = newrows.groupBy("super").agg(F.count(F.lit(1)).alias("_gsz"))
    nsplit = F.ceil(F.col("_gsz") / F.lit(split_target)).cast("long")
    left = newrows.join(F.broadcast(counts), "super").select(
        id_col,
        vec_col,
        "super",
        F.pmod(F.xxhash64(F.col(id_col), F.lit(53)), nsplit).cast("int").alias("_slot"),
    )
    # the (tiny) children table replicated once per slot of its super,
    # so every cogroup key sees the super's full child set
    slots = counts.select(
        "super",
        F.explode(F.sequence(F.lit(0), (nsplit - 1).cast("int"))).alias("_slot"),
    )
    children = (
        _CHILDREN.read(spark, path)
        .select(F.col("super").cast("int").alias("super"), "child", "centroid")
        .join(F.broadcast(slots), "super")
    )
    out_fields = [
        T.StructField(id_col, T.LongType()),
        T.StructField("child", T.IntegerType()),
    ]
    if store_vec:
        out_fields.append(T.StructField("vec", newrows.schema[vec_col].dataType))
    out_fields.append(T.StructField("super", T.IntegerType()))
    out_schema = T.StructType(out_fields)
    cap = group_cap

    def route(batch_t, child_t):
        # one (super, slot) group: route every batch vector with the
        # build kernel's arithmetic and lowest-child-id tie rule
        import pyarrow as pa

        from actuarial_reserve_modelling_spark.operators.arrowkit import (
            fixed_vecs,
            int_col,
        )

        n = batch_t.num_rows
        if n == 0:
            cols = {
                id_col: pa.array([], type=pa.int64()),
                "child": pa.array([], type=pa.int32()),
                "super": pa.array([], type=pa.int32()),
            }
            if store_vec:
                cols["vec"] = batch_t.column(vec_col)
            return pa.table(
                {f: cols[f] for f in ([id_col, "child", "vec", "super"] if store_vec else [id_col, "child", "super"])}
            )
        if n > cap:
            raise ValueError(
                f"ann index add: {n} rows in one routing task exceeds "
                f"group_cap={cap} — sub-split invariant violated"
            )
        if child_t.num_rows == 0:
            sup = int(int_col(batch_t.column("super"))[0])
            raise ValueError(
                f"ann index add: hard super {sup} has no child rows — "
                "the index is missing its children dataset or the "
                "super never received members at build time; rebuild "
                "or route this batch through a fresh build"
            )
        childs = int_col(child_t.column("child"))
        order = np.argsort(childs)  # ascending child id
        childs = childs[order]
        cent = fixed_vecs(child_t.column("centroid"))[order]
        ids = int_col(batch_t.column(id_col))
        vecs = fixed_vecs(batch_t.column(vec_col), d=cent.shape[1])
        d2 = (cent * cent).sum(1)[None, :] - 2.0 * (vecs @ cent.T)
        best = d2.argmin(axis=1)  # first occurrence -> lowest child id
        cols = {
            id_col: pa.array(ids, type=pa.int64()),
            "child": pa.array(childs[best].astype(np.int32), type=pa.int32()),
            "super": batch_t.column("super").cast(pa.int32()),
        }
        if store_vec:
            # pass-through in batch order: output rows are 1:1 with the
            # batch rows, so the original arrow column (bit-exact
            # floats) is the member's stored vector
            cols["vec"] = batch_t.column(vec_col)
        names = [id_col, "child", "vec", "super"] if store_vec else [id_col, "child", "super"]
        return pa.table({f: cols[f] for f in names})

    assigned = (
        left.groupBy("super", "_slot")
        .cogroup(children.groupBy("super", "_slot"))
        .applyInArrow(route, schema=out_schema)
    )
    _MEMBERS.write(assigned, path)


@leased("path")
def delete_from_ann_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> None:
    """Remove vectors from a persisted index (dedup-driven removal,
    retention, right-to-be-forgotten): anti-join the member rows
    against the delete-set and DYNAMIC-partition-overwrite only the
    supers that actually held deleted ids (``overwrite_partitions``,
    the S7 resumable-write primitive — untouched supers keep their
    files byte-identical, so a 10-id delete from a 10⁹-vector index
    rewrites a handful of directories, not the index). Centroids are
    deliberately left as built: an IVF quantizer is a routing
    structure, not a statement about membership — queries never see
    deleted ids again (they are gone from every list), and the routing
    geometry for the surviving vectors is unchanged, which is exactly
    the semantics an immutable-build/mutable-membership index wants.
    Also the compaction hook: rewritten supers come out at one file
    per partition, folding any append-accumulated small files.

    Not atomic, but re-running the same delete converges (the crash
    contract of ``sources/tiers.py``)."""
    _MEMBERS.delete(spark, path, ids, id_col)


@leased("path")
def compact_ann_index(
    spark: SparkSession, path: str, max_files_per_partition: int = 4
) -> int:
    """Fold append-accumulated small files in a persisted hierarchical
    ANN index's members/ partitions (see ``sources.tiers.Dataset.compact``)."""
    return _MEMBERS.compact(spark, path, max_files_per_partition)


@leased("path")
def compact_ivfpq_index(
    spark: SparkSession, path: str, max_files_per_partition: int = 4
) -> int:
    """Fold append-accumulated small files in a persisted IVF-PQ
    index's codes/ partitions (see ``sources.tiers.Dataset.compact``)."""
    return _CODES.compact(spark, path, max_files_per_partition)


# --- recall-driven probe defaulting (r13 verdict #6) ------------------------
# The dedup tier routes adaptively; the ANN tiers had per-corpus recall
# observability (the l46/l47 self-audits) but still took a static nprobe.
# persist_recall_audit sweeps the audit across probe settings ONCE per
# corpus change and persists the curve into the tier's recall_stats/;
# nprobe="auto" on the persisted query paths then defaults from the
# measured curve — clustered corpora settle at 1-2 probes, isotropic
# ones surface a warning with the curve instead of silently burning
# probes on an ANN-hostile distribution.

RECALL_STATS_DS = "recall_stats"
DEFAULT_RECALL_TARGET = 0.95


def _detect_tier(spark: SparkSession, path: str) -> str:
    """'hier' (supers/) or 'ivfpq' (cents/) from the persisted layout."""
    for ds, tier in (("supers", "hier"), ("cents", "ivfpq")):
        try:
            spark.read.parquet(f"{path}/{ds}").schema
            return tier
        except AnalysisException as e:
            if not _is_path_missing(e):
                raise
    raise ValueError(
        f"no persisted ANN tier at {path!r} (neither supers/ nor cents/) — "
        "build one with persist_ann_index or persist_ivfpq_index first"
    )


@leased()
def persist_recall_audit(
    spark: SparkSession,
    path: str,
    probe_settings: tuple[int, ...] = (1, 2, 4),
    n_sample: int = 64,
    k: int = 10,
    salt: int = 7,
    embeddings: DataFrame | None = None,
) -> list[dict]:
    """Run the tier's recall self-audit at each probe setting and
    persist the summary curve into ``recall_stats/`` — the measured
    basis ``nprobe="auto"`` defaults from. One bounded exact pass per
    setting (n_sample × corpus — the audit's documented envelope), so
    run it per corpus change (after persist/add/compact), never per
    query; the ingest gates do NOT run it implicitly.

    Returns the persisted rows: [{probe, mean_recall, n_sample, k,
    n_corpus}]. ``n_corpus`` stamps the corpus size the curve was
    measured at, so ``nprobe="auto"`` can flag a curve the tier has
    since grown/shrunk away from. The dataset is advisory like
    ``stats/`` — a torn read degrades to "no curve" (auto falls back
    with a warning), never a wrong answer. Tier kind is detected from
    the layout (supers/ vs cents/).

    Sweep cost: the sample is drawn once (the audit's deterministic
    xxhash64 rule) and its exact top-k is MATERIALIZED once — the
    O(n_sample × corpus) brute-force pass is paid once per sweep, not
    once per probe setting; only the pruned index side re-runs per
    setting."""
    tier = _detect_tier(spark, path)
    n_corpus = read_index_stats(spark, path)
    if n_corpus is None:
        n_corpus = (_MEMBERS if tier == "hier" else _CODES).read(spark, path).count()
    if tier == "hier":
        meta = read_ann_index_meta(spark, path)
    else:
        _c, _b, meta = load_ivfpq_index(spark, path)
    corpus = _audit_corpus(spark, path, tier, meta, embeddings)
    sample = (
        corpus.orderBy(F.xxhash64(F.col("vec_id"), F.lit(salt)), "vec_id")
        .limit(int(n_sample))
        .localCheckpoint(eager=True)
    )
    exact = (
        cosine_topk(corpus, sample, k=k)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    curve: list[tuple[int, float]] = []
    for p in probe_settings:
        if tier == "hier":
            audit = ann_index_recall_audit(
                spark, path, n_sample=n_sample, k=k, nprobe_super=int(p),
                salt=salt, embeddings=embeddings, queries=sample, _exact=exact,
            )
        else:
            audit = ivfpq_index_recall_audit(
                spark, path, n_sample=n_sample, k=k, nprobe=int(p),
                salt=salt, embeddings=embeddings, queries=sample, _exact=exact,
            )
        r = audit.agg(F.avg("recall_at_k").alias("m")).first()
        curve.append((int(p), float(r["m"]) if r["m"] is not None else 0.0))
    frames = [
        spark.range(1).select(
            F.lit(p).cast("int").alias("probe"),
            F.lit(round(m, 4)).cast("double").alias("mean_recall"),
            F.lit(int(n_sample)).cast("int").alias("n_sample"),
            F.lit(int(k)).cast("int").alias("k"),
            F.lit(int(n_corpus)).cast("bigint").alias("n_corpus"),
        )
        for p, m in curve
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    out.coalesce(1).write.mode("overwrite").parquet(f"{path}/{RECALL_STATS_DS}")
    spark.catalog.refreshByPath(f"{path}/{RECALL_STATS_DS}")
    return [
        {
            "probe": p,
            "mean_recall": round(m, 4),
            "n_sample": n_sample,
            "k": k,
            "n_corpus": int(n_corpus),
        }
        for p, m in curve
    ]


def read_recall_stats(spark: SparkSession, path: str) -> list[dict] | None:
    """The persisted recall curve, ascending by probe, or None when
    absent/unreadable (advisory: a torn rewrite reads as absent)."""
    try:
        rows = (
            spark.read.parquet(f"{path}/{RECALL_STATS_DS}")
            .orderBy("probe")
            .collect()
        )
    except Exception:
        return None
    return [
        {
            "probe": int(r["probe"]),
            "mean_recall": float(r["mean_recall"]),
            "n_sample": int(r["n_sample"]),
            "k": int(r["k"]),
            "n_corpus": int(r["n_corpus"]),
        }
        for r in rows
    ] or None


def _auto_probe(
    spark: SparkSession,
    path: str,
    op: str,
    target: float,
    fallback: int,
) -> int:
    """Smallest measured probe setting reaching ``target`` mean recall;
    warn (with the curve) when the corpus plateaus below target —
    the isotropic signature — or when no audit was persisted."""
    import warnings

    stats = read_recall_stats(spark, path)
    if not stats:
        warnings.warn(
            f"{op}: nprobe='auto' but no persisted recall audit at "
            f"{path}/{RECALL_STATS_DS} — run persist_recall_audit after "
            f"building the tier; falling back to nprobe={fallback}",
            stacklevel=3,
        )
        return fallback
    # staleness: the curve was measured at a corpus size; a tier that
    # has since doubled/halved (adds, deletes, compaction of a grown
    # corpus) may route on a curve that no longer describes it
    audited_n = stats[0].get("n_corpus", 0)
    current_n = read_index_stats(spark, path)
    if audited_n and current_n is not None and not (
        0.5 * audited_n <= current_n <= 2.0 * audited_n
    ):
        warnings.warn(
            f"{op}: persisted recall curve was measured at n_corpus="
            f"{audited_n} but the tier now holds ~{current_n} rows — "
            f"re-run persist_recall_audit; using the stale curve meanwhile",
            stacklevel=3,
        )
    for s in stats:
        if s["mean_recall"] >= target:
            return s["probe"]
    best = max(stats, key=lambda s: (s["mean_recall"], -s["probe"]))
    curve = ", ".join(f"probe={s['probe']}: {s['mean_recall']:.3f}" for s in stats)
    warnings.warn(
        f"{op}: measured recall plateaus below target {target} on this "
        f"corpus ({curve}) — the isotropic signature; ANN pruning may be "
        f"a poor fit here. Using the best measured setting "
        f"(probe={best['probe']}, recall {best['mean_recall']:.3f}); "
        f"consider the exact path or re-auditing at higher settings",
        stacklevel=3,
    )
    return best["probe"]


def ann_ivf_hier_topk_persisted(
    spark: SparkSession,
    path: str,
    embeddings: DataFrame | None,
    queries: DataFrame,
    k: int = 5,
    nprobe_super: int | str = 4,
    child_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_cap: int | None = None,
    recall_target: float = DEFAULT_RECALL_TARGET,
    max_query_rows: int | None = DEFAULT_MAX_QUERY_ROWS,
    return_probes: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Query a persisted index with partition-pruned reads: soft-assign
    the (bounded) query batch against the reloaded super-centroids,
    collect the distinct probed supers (≤ |queries|·nprobe_super ints —
    the one driver-side list, bounded by the same contract that bounds
    the query side of every ANN join here), and load ONLY those
    partitions of ``members/`` and ``children/`` before delegating to
    ``ann_ivf_hier_topk_indexed``. The scan carries the probe set as
    PartitionFilters — the index bytes read per batch scale with
    nprobe_super/k1, not with the corpus.

    On a vector-bearing layout pass ``embeddings=None`` (the intended
    production shape): the exact rerank then reads candidate vectors
    out of the SAME pruned partitions, so the whole query touches only
    the probed fraction of the index and ZERO corpus files — per-batch
    cost is independent of corpus size (pinned by the scan-path
    pytest). Passing a corpus frame keeps the id-only rerank join for
    slim layouts. ``group_cap=None`` (default) decodes the child-id
    slot stride with the PERSISTED build cap from ``meta/`` — an index
    built with a non-default cap routes correctly without the caller
    repeating the knob. ``nprobe_super="auto"`` defaults from the
    tier's persisted recall curve (``persist_recall_audit``): the
    smallest measured setting reaching ``recall_target``, with a loud
    warning (and the measured curve) when the corpus plateaus below it.

    ``return_probes=True`` (r15) returns ``(result, probes)`` where
    ``probes`` is the rank-ordered level-1 soft assignment of the
    query batch (``ivf_assign(..., with_rank=True)``, checkpointed and
    already materialized by this call's bounded-count job). Its
    ``_rank == 0`` rows ARE the batch's hard top-1 supers — the ingest
    gate hands them to ``add_to_ann_index`` so one level-1 matmul per
    batch serves query probing AND append membership. The probes frame
    is also reused internally for the routing join (the r14 shape ran
    the same assignment kernel twice: once to collect the probed
    supers, once inside the indexed query)."""
    if nprobe_super == "auto":
        nprobe_super = _auto_probe(
            spark, path, "ann_ivf_hier_topk_persisted", recall_target, fallback=4
        )
    if group_cap is None:
        group_cap = read_ann_index_meta(spark, path)["group_cap"]
    super_cent = _load_ann_supers(spark, path)
    # one level-1 assignment per call (r15): checkpointed, materialized
    # by the bounded-count collect below, reused by the routing join —
    # the prior shape re-ran the kernel (and re-shipped the k1·d
    # closure) inside ann_ivf_hier_topk_indexed
    probes = ivf_assign(
        queries,
        super_cent,
        id_col=id_col,
        vec_col=vec_col,
        nprobe=nprobe_super,
        with_rank=True,
    ).localCheckpoint(eager=False)
    # One collect serves BOTH driver needs (r14 — was a limit-probe job
    # plus a distinct-collect job): the per-cluster counts are bounded
    # by k1 rows whatever the batch size, and since ivf_assign emits
    # exactly min(nprobe_super, k1) rows per query vector, the exact
    # query count falls out of their sum — enforcing the bounded-query
    # contract before the batch is broadcast, with one driver job.
    per_cluster = probes.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("_n")
    ).collect()
    m = max(1, min(int(nprobe_super), int(super_cent.shape[0])))
    n_queries = sum(int(r["_n"]) for r in per_cluster) // m
    if max_query_rows is not None and n_queries > max_query_rows:
        raise ValueError(
            f"ann_ivf_hier_topk_persisted: query batch exceeds "
            f"max_query_rows={max_query_rows} — this path holds the query "
            "batch in driver memory by design (the bounded-query-batch "
            "contract). For large batches use the persisted ANN tier "
            "query in slices, or pass a larger max_query_rows / "
            "max_query_rows=None only if the batch genuinely fits driver "
            "memory."
        )
    probed = [int(r["cluster"]) for r in per_cluster]
    index = _load_ann_frames(spark, path, id_col=id_col, supers=probed)
    result = ann_ivf_hier_topk_indexed(
        index,
        super_cent,
        embeddings,
        queries,
        k=k,
        nprobe_super=nprobe_super,
        child_probe=child_probe,
        id_col=id_col,
        vec_col=vec_col,
        group_cap=group_cap,
        _probes=probes,
    )
    return (result, probes) if return_probes else result


def ann_index_recall_audit(
    spark: SparkSession,
    path: str,
    n_sample: int = 64,
    k: int = 10,
    nprobe_super: int = 4,
    child_probe: int = 2,
    salt: int = 7,
    queries: DataFrame | None = None,
    embeddings: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _exact: DataFrame | None = None,
) -> DataFrame:
    """Sampled recall self-audit of a persisted hierarchical ANN tier
    (VERDICT r12 task 4): the offline benchmarks pinned recall@10 at
    0.25–0.39 (isotropic) vs 0.89–0.90 (clustered), but a user querying
    THEIR corpus had no way to see where their data lands on that
    curve. This runs the audit against the tier itself: sample
    ``n_sample`` stored vectors deterministically (ordered by
    ``xxhash64(id, salt)`` — an unbiased, re-runnable draw), answer
    them through the PRUNED index path at the given probe settings, and
    compare against the EXACT top-k computed by a bounded brute-force
    pass (``n_sample`` broadcast queries × one corpus scan — O(corpus)
    ONCE per audit by design, never per production query; that is the
    audit's entire cost envelope and why it samples instead of auditing
    every stored vector).

    Returns one row per sampled query:
    ``(query_id, n_hits, exact_n, recall_at_k, n_probed_supers)`` —
    ``recall_at_k = |index_topk ∩ exact_topk| / exact_n`` (``exact_n =
    min(k, reachable neighbors)``, so tiny corpora don't deflate the
    metric), plus how many supers the query probed (sum/group the
    column for the probe histogram). Self-matches are excluded on BOTH
    sides — the index is asked for ``k+1`` and the query's own row is
    dropped — because "found itself" is not recall. Both sides round
    sims to 6 dp and tie-break by neighbor id (the engine-stability
    convention every ANN row here uses), so the audit is deterministic
    for a fixed tier + settings and its numbers are comparable across
    nprobe settings — the per-corpus recall/latency trade made visible.

    ``queries=`` overrides the sample with caller-chosen stored ids
    (the planted-twin pytest/oracle hook). ``embeddings=`` supplies the
    corpus for SLIM (non-vector-bearing) layouts; vector-bearing tiers
    (the production shape) audit self-contained from ``members/``.
    Read-only: takes no writer lease and is safe to run concurrently
    with queries (not with deletes — sample ids could vanish
    mid-audit, which surfaces as a loud empty index side, not a wrong
    number)."""
    meta = read_ann_index_meta(spark, path)
    corpus = _audit_corpus(
        spark, path, "hier", meta, embeddings, id_col=id_col, vec_col=vec_col
    )

    def index_fn(sample: DataFrame) -> DataFrame:
        return ann_ivf_hier_topk_persisted(
            spark,
            path,
            embeddings if not meta["has_vectors"] else None,
            sample,
            k=k + 1,
            nprobe_super=nprobe_super,
            child_probe=child_probe,
        )

    return _recall_audit_core(
        spark,
        corpus,
        queries=queries,
        n_sample=n_sample,
        k=k,
        salt=salt,
        id_col=id_col,
        vec_col=vec_col,
        index_fn=index_fn,
        supers=_load_ann_supers(spark, path),
        nprobe=nprobe_super,
        exact=_exact,
    )


def ivfpq_index_recall_audit(
    spark: SparkSession,
    path: str,
    n_sample: int = 64,
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 32,
    salt: int = 7,
    queries: DataFrame | None = None,
    embeddings: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _exact: DataFrame | None = None,
) -> DataFrame:
    """``ann_index_recall_audit``'s analogue for the persisted IVF-PQ
    tier — same contract (sampled stored vectors, pruned ADC answers vs
    a bounded exact scan, self-excluded on both sides, deterministic
    per tier+settings), so BOTH persisted ANN tiers expose the same
    per-corpus recall/probe observability. The exact side reads the
    stored vectors out of ``codes/`` on vector-bearing layouts
    (``store_vectors=True``, the default); slim layouts need
    ``embeddings=``. The quantization loss PQ trades for its 32×
    compression shows up here as lower recall at equal probes than the
    hierarchical tier — that visible trade is the point of the audit."""
    _centroids, _books, meta = load_ivfpq_index(spark, path)
    corpus = _audit_corpus(
        spark, path, "ivfpq", meta, embeddings, id_col=id_col, vec_col=vec_col
    )

    def index_fn(sample: DataFrame) -> DataFrame:
        return ann_ivfpq_topk_persisted(
            spark,
            path,
            embeddings if not meta["has_vectors"] else None,
            sample,
            k=k + 1,
            nprobe=nprobe,
            rerank=rerank,
        )

    return _recall_audit_core(
        spark,
        corpus,
        queries=queries,
        n_sample=n_sample,
        k=k,
        salt=salt,
        id_col=id_col,
        vec_col=vec_col,
        index_fn=index_fn,
        supers=_centroids,
        nprobe=nprobe,
        exact=_exact,
    )


def _audit_corpus(
    spark: SparkSession,
    path: str,
    tier: str,
    meta: dict,
    embeddings: DataFrame | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The corpus frame a recall audit's exact side scans: the caller's
    ``embeddings`` when given, else the stored vectors out of the
    vector-bearing layout (members/ for hier, codes/ for IVF-PQ); slim
    layouts without ``embeddings`` raise loudly."""
    if embeddings is not None:
        return embeddings.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).alias("embedding"),
        )
    if meta["has_vectors"]:
        ds = "members" if tier == "hier" else "codes"
        return spark.read.parquet(f"{path}/{ds}").select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("vec").alias("embedding"),
        )
    op = "ann_index_recall_audit" if tier == "hier" else "ivfpq_index_recall_audit"
    raise ValueError(
        f"{op}: slim layout (has_vectors=False) — "
        "pass embeddings= so the exact side has vectors to scan"
    )


def _recall_audit_core(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame | None,
    n_sample: int,
    k: int,
    salt: int,
    id_col: str,
    vec_col: str,
    index_fn,
    supers: np.ndarray,
    nprobe: int,
    exact: DataFrame | None = None,
) -> DataFrame:
    """Shared audit core (see ann_index_recall_audit for the contract):
    deterministic sample → index top-(k+1) minus self vs exact top-k →
    per-query recall + probed-partition count. ``exact`` (columns
    query_id, neighbor_id — a precomputed ``cosine_topk(corpus,
    sample, k)``) lets a probe-setting SWEEP pay the O(corpus) exact
    pass once instead of once per setting (persist_recall_audit); the
    caller must have computed it over the SAME sample this call
    receives via ``queries``."""
    if queries is None:
        sample = (
            corpus.orderBy(F.xxhash64(F.col("vec_id"), F.lit(salt)), "vec_id")
            .limit(int(n_sample))
        )
    else:
        sample = queries.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).alias("embedding"),
        )
    # pinned once: both sides and the probe count must see the SAME draw
    sample = sample.localCheckpoint(eager=False)

    # index side: ask for k+1, drop self, re-rank to k
    idx = index_fn(sample)
    w = Window.partitionBy("query_id").orderBy("rank")
    idx_k = (
        idx.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select("query_id", "neighbor_id")
    )
    # exact side: brute-force top-k (self excluded by cosine_topk),
    # unless the sweep caller precomputed it over the same sample
    if exact is None:
        exact = cosine_topk(corpus, sample, k=k)
    exact_n = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("exact_n"))
    hits = (
        idx_k.join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    probes = (
        ivf_assign(sample, supers, nprobe=nprobe)
        .groupBy(F.col("vec_id").alias("query_id"))
        .agg(F.countDistinct("cluster").alias("n_probed_supers"))
    )
    return (
        sample.select(F.col("vec_id").alias("query_id"))
        .join(exact_n, "query_id", "left")
        .join(hits, "query_id", "left")
        .join(probes, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce(F.col("exact_n"), F.lit(0)).cast("long").alias("exact_n"),
            F.when(
                F.coalesce(F.col("exact_n"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("n_hits"), F.lit(0))
                    / F.col("exact_n").cast("double"),
                    4,
                ),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("recall_at_k"),
            F.coalesce(F.col("n_probed_supers"), F.lit(0))
            .cast("int")
            .alias("n_probed_supers"),
        )
    )


def hash_embed(
    df: DataFrame, text_col: str, dim: int = 16, id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic text → vector featurizer, entirely JVM-side: the
    j-th component is a U(-1,1) value derived from ``xxhash64(text, j)``.

    A clearly-marked STAND-IN for a learned embedding model (the
    container has no model runtime): identical texts get identical
    vectors, different texts get near-orthogonal ones — exactly the
    contract the downstream index/search plumbing depends on, which is
    what this exercises. Swap in a Pandas-UDF model call (same
    signature) for semantic similarity; the pipeline shape is unchanged.
    """
    comp = (
        f"transform(sequence(0, {dim - 1}), j -> "
        f"cast((cast(shiftrightunsigned(xxhash64({text_col}, j), 11) as double) + 0.5)"
        f" / {float(1 << 53)} * 2.0 - 1.0 as float))"
    )
    return df.select(F.col(id_col), F.expr(comp).alias("embedding"))


# --- PQ (product quantization) ANN ------------------------------------------


def pq_train_codebooks(
    embeddings: DataFrame,
    m_subspaces: int = 8,
    n_codes: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> np.ndarray:
    """Train PQ codebooks: split the d dims into ``m_subspaces``
    contiguous subspaces and run the deterministic k-means quantizer
    on each subspace's sub-vectors — ALL subspaces fused into one
    kernel pass per iteration (the hyperplane_signatures_multi move
    applied to training): each batch is reshaped (n, m, d/m) once and
    every subspace's assignment + 1e-8-quantized int64 partial sums
    come out of that single read, so the corpus is scanned
    ``n_iters + 1`` times TOTAL instead of ``m·(n_iters+1)`` (24 scans
    at the defaults — at 100 TB the scan count IS the training cost).
    Init is the shared content-hash rule: the ``n_codes`` lowest
    xxhash64(id) vectors, collected once and sliced per subspace —
    identical ids (the ordering never looks at the vector), hence
    identical books, to the per-subspace formulation. Same argmin
    lowest-index tie rule, same order-free quantized means, same
    decimal(38,0) cross-task overflow guard as ``ivf_train_centroids``.

    Returns (m, n_codes, d/m) float64. Codebooks total
    m · n_codes · d/m = n_codes · d doubles — driver-resident and
    broadcast, like IVF centroids.
    """
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    if dim % m_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    ds = dim // m_subspaces
    m = m_subspaces
    init_rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_codes)
        .collect()
    )
    full = np.array([np.asarray(r[1], dtype=np.float64) for r in init_rows])
    books = np.ascontiguousarray(
        full.reshape(len(full), m, ds).transpose(1, 0, 2)
    )  # (m, n_codes, ds)
    part_schema = T.StructType(
        [
            T.StructField("sub", T.IntegerType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("dim", T.IntegerType()),
            T.StructField("s", T.LongType()),
        ]
    )
    from actuarial_reserve_modelling_spark.operators import spread_for_kernel

    for _ in range(n_iters):
        bk = books.copy()
        bk_sq = (bk * bk).sum(axis=2)  # (m, n_codes)

        def partials(batches):
            import pyarrow as pa

            from actuarial_reserve_modelling_spark.operators.arrowkit import fixed_vecs

            sums = np.zeros((m, n_codes, ds), dtype=np.int64)
            counts = np.zeros((m, n_codes), dtype=np.int64)
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                vecs = fixed_vecs(batch.column(vec_col), d=m * ds).reshape(
                    batch.num_rows, m, ds
                )
                for j in range(m):
                    sv = vecs[:, j, :]
                    d2 = bk_sq[j][None, :] - 2.0 * (sv @ bk[j].T)
                    a = d2.argmin(axis=1)  # first occurrence -> lowest index
                    np.add.at(sums[j], a, np.round(sv * 1e8).astype(np.int64))
                    np.add.at(counts[j], a, 1)
            subs, cls, dims, vals = [], [], [], []
            for j in range(m):
                for c in np.nonzero(counts[j])[0]:
                    subs.extend([j] * (ds + 1))
                    cls.extend([c] * (ds + 1))
                    dims.extend(range(-1, ds))
                    vals.append(counts[j, c])
                    vals.extend(sums[j, c])
            yield pa.record_batch(
                [
                    pa.array(np.asarray(subs, dtype=np.int32), type=pa.int32()),
                    pa.array(np.asarray(cls, dtype=np.int32), type=pa.int32()),
                    pa.array(np.asarray(dims, dtype=np.int32), type=pa.int32()),
                    pa.array(np.asarray(vals, dtype=np.int64)),
                ],
                names=["sub", "cluster", "dim", "s"],
            )

        rows = (
            spread_for_kernel(embeddings.select(id_col, vec_col))
            .mapInArrow(partials, schema=part_schema)
            .groupBy("sub", "cluster", "dim")
            .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
            .collect()
        )
        counts = {
            (r["sub"], r["cluster"]): int(r["s"]) for r in rows if r["dim"] == -1
        }
        new_books = books.copy()  # empty codes keep their centroid
        for r in rows:
            if r["dim"] >= 0:
                key = (r["sub"], r["cluster"])
                new_books[r["sub"], r["cluster"], r["dim"]] = (
                    float(r["s"]) / 1e8
                ) / counts[key]
        books = new_books
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` one-byte-ish code indices (nearest
    codebook entry per subspace, L2, ties → lowest index). THE
    compression step that makes 100 TB similarity search feasible: a
    64-dim float vector (256 B) becomes m=8 small ints; the ADC scan
    then reads codes only, never raw vectors. One Arrow pass,
    (batch × ds) @ (ds × n_codes) per subspace."""
    m, n_codes, ds = codebooks.shape
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    books_sq = (books * books).sum(axis=2)  # (m, n_codes)

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        from actuarial_reserve_modelling_spark.operators.arrowkit import (
            fixed_vecs,
            int_col,
            rows_to_list_array,
        )

        for batch in batches:
            if batch.num_rows == 0:
                continue
            vecs = fixed_vecs(batch.column(vec_col), d=m * ds)
            n = batch.num_rows
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                sub = vecs[:, j * ds : (j + 1) * ds]
                d2 = books_sq[j][None, :] - 2.0 * (sub @ books[j].T)
                codes[:, j] = np.argmin(d2, axis=1)  # first minimum = lowest idx
            yield pa.record_batch(
                [
                    pa.array(int_col(batch.column(id_col))),
                    rows_to_list_array(codes, pa.int32()),
                ],
                names=[id_col, "codes"],
            )

    from actuarial_reserve_modelling_spark.operators import spread_for_kernel

    return spread_for_kernel(embeddings.select(id_col, vec_col)).mapInArrow(
        kernel, schema=schema
    )


def ann_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_subspaces: int = 8,
    n_codes: int = 16,
    rerank: int = 4,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int | None = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """PQ ANN with asymmetric distance computation (ADC; Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI'11):
    codebooks → corpus encoded to m-byte codes → per query an
    (m × n_codes) inner-product lookup table scores every code word in
    O(m) — no raw corpus vectors touched — → exact cosine re-rank of
    the top ``rerank · k`` ADC candidates only.

    The 100 TB shape: the scan side is the CODES table (32× smaller
    than the raw vectors; in production persisted once and reused every
    query batch), the bounded query batch rides into the kernel as a
    driver-held closure (LUTs computed once per task, scoring is a
    numpy gather over the whole partition, only per-batch top rerank·k
    rows leave the kernel), and the only full-width vector reads are
    the rerank·k candidates per query. Deterministic end to end
    (quantizer rules + stable argsort + id tie-breaks).
    """
    codebooks = pq_train_codebooks(
        embeddings,
        m_subspaces=m_subspaces,
        n_codes=n_codes,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    codes = pq_encode(embeddings, codebooks, id_col=id_col, vec_col=vec_col)
    m, _, ds = codebooks.shape
    books = np.ascontiguousarray(codebooks, dtype=np.float64)

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )

    # Queries are driver-collected (the bounded-query-batch contract,
    # same as cosine_topk): the kernel then scans the CODES table only —
    # no query×codes join row explosion, no per-row query vectors over
    # Arrow. Each task computes the m LUTs ONCE for the whole query
    # batch and scores its partition's codes by pure numpy gather,
    # emitting only its per-batch top rerank·k rows per query — exact,
    # because any global top-R row ranks ≤ R within its own batch too.
    _require_bounded_queries(q, "ann_pq_topk", max_query_rows)
    q_rows = q.collect()
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    q_mat = (
        np.array([np.asarray(r["qvec"], dtype=np.float64) for r in q_rows])
        if q_rows
        else np.zeros((0, m * ds))
    )
    nq = len(q_rows)
    top_r = rerank * k

    def adc_kernel(batches):
        import pyarrow as pa

        from actuarial_reserve_modelling_spark.operators.arrowkit import fixed_vecs, int_col

        if nq == 0:
            return
        luts = [q_mat[:, j * ds : (j + 1) * ds] @ books[j].T for j in range(m)]
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            nid = int_col(batch.column("neighbor_id"))
            cds = fixed_vecs(batch.column("codes"), d=m, dtype=np.int64)
            # pre-sort columns by neighbor_id so the stable argsort below
            # breaks adc ties by ascending id — the same total order the
            # downstream window uses
            ordn = np.argsort(nid, kind="stable")
            nid = nid[ordn]
            cds = cds[ordn]
            adc = np.zeros((nq, n))
            for j in range(m):
                adc += luts[j][:, cds[:, j]]
            adc[q_ids[:, None] == nid[None, :]] = -np.inf  # self-exclusion
            take = min(top_r, n)
            top = np.argsort(-adc, axis=1, kind="stable")[:, :take]
            rows_q = np.repeat(q_ids, take)
            rows_n = nid[top].ravel()
            rows_a = np.take_along_axis(adc, top, axis=1).ravel()
            keep = np.isfinite(rows_a)
            yield pa.record_batch(
                [
                    pa.array(rows_q[keep]),
                    pa.array(rows_n[keep]),
                    pa.array(rows_a[keep], type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "adc"],
            )

    from actuarial_reserve_modelling_spark.operators import spread_for_kernel

    scored = spread_for_kernel(
        codes.select(F.col(id_col).alias("neighbor_id"), "codes")
    ).mapInArrow(adc_kernel, schema=out_schema)
    w_adc = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), "neighbor_id")
    cand = (
        scored.withColumn("r", F.row_number().over(w_adc))
        .filter(F.col("r") <= rerank * k)
        .select("query_id", "neighbor_id")
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        dot(vec_col, vec_col).alias("dcc"),
    )
    # corpus self-dot precomputed per row (bit-identical cosine()
    # restructuring — see cosine_from_sq); the query side stays inline:
    # it is the bounded, broadcast side, not worth a column
    exact = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot("qvec", "cvec")
                / F.sqrt(dot("qvec", "qvec") * F.col("dcc")),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def ann_ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int | str = 16,
    nprobe: int | str = 6,
    m_subspaces: int = 8,
    n_codes: int = 16,
    rerank: int | str = 4,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int | None = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFPQ composite; Jégou et al. TPAMI'11
    §V): a coarse k-means quantizer partitions the corpus into inverted
    lists, product quantization encodes each vector's RESIDUAL against
    its list centroid, and a query scans only its ``nprobe`` probed
    lists' codes via ADC before the exact re-rank — combining IVF's
    scan pruning (nprobe/n_centroids of the corpus) with PQ's 32×
    compression of what it does scan. This is the production
    100 TB ANN shape: the scan side is the codes table filtered to the
    probed clusters (partition-prunable when lists are the partition
    key), and the only full-width reads are the rerank·k re-rank rows.

    Inner-product decomposition keeps the lookup tables per-QUERY, not
    per-(query, cluster): IP(q, c + r) = q·c + q·r, so the residual
    LUTs are computed once from q and each row just adds its cluster's
    scalar offset q·c. Residual encoding uses one shared codebook set
    (trained on all residuals — the FAISS default). Deterministic end
    to end (same quantizer/tie-break/stable-argsort rules as IVF and
    PQ); queries are driver-collected under the bounded-query-batch
    contract shared by the whole ANN family. ``n_centroids="auto"`` /
    ``nprobe="auto"`` follow the same √n scaling contract as
    ``ann_ivf_topk`` — the knob that holds recall as lists densify
    (fixed settings measured 0.81→0.65 at a 128k→256k doubling).

    ``rerank="auto"`` scales the exact re-rank budget with the probe
    budget: max(8, nprobe // 2). Under the √n rule residuals SHRINK as
    centroids multiply, so the exact q·c term dominates each ADC score
    and the coarse quantization noise on q·r must be absorbed by a
    LARGER exact re-rank window — measured at 256k vectors: auto
    centroids/nprobe with rerank=8 drop recall to 0.435 while rerank=32
    (= nprobe//2) restores 1.0 at ~12% wall cost. The budget stays
    bounded: rerank·k rows re-ranked per query, O(√n) at any corpus
    size."""
    n_centroids = resolve_n_centroids(embeddings, n_centroids, id_col=id_col)
    if nprobe == "auto":
        nprobe = max(8, n_centroids // 8)
    if rerank == "auto":
        rerank = max(8, nprobe // 2)
    centroids = ivf_train_centroids(
        embeddings, n_centroids=n_centroids, n_iters=n_iters, id_col=id_col, vec_col=vec_col
    )
    assign = ivf_assign(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    # residual = vec - centroid[cluster], as an Arrow kernel with the
    # (k × d) centroid matrix riding in the task closure — NOT a plan
    # literal: under n_centroids="auto" the √n rule makes k·d grow past
    # what Catalyst should carry as constants (506×64 ≈ 32k literals at
    # 256k vectors, ~2M at 10⁹), while the closure copy stays a few MB
    # and the subtraction is one vectorized batch op.
    with_cluster = embeddings.select(id_col, vec_col).join(assign, id_col)
    residuals = _ivf_residuals(with_cluster, centroids, id_col=id_col, vec_col=vec_col)
    books = pq_train_codebooks(
        residuals, m_subspaces=m_subspaces, n_codes=n_codes, n_iters=n_iters,
        id_col=id_col, vec_col=vec_col, dim=centroids.shape[1],
    )
    codes = pq_encode(residuals, books, id_col=id_col, vec_col=vec_col).join(
        assign, id_col
    )
    return _ivfpq_query(
        codes,
        embeddings,
        queries,
        centroids,
        books,
        k=k,
        nprobe=nprobe,
        rerank=rerank,
        id_col=id_col,
        vec_col=vec_col,
        max_query_rows=max_query_rows,
    )


def _ivfpq_query(
    codes: DataFrame,
    embeddings: DataFrame | None,
    queries: DataFrame,
    centroids: np.ndarray,
    books: np.ndarray,
    k: int,
    nprobe: int,
    rerank: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int | None = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """Shared IVF-PQ query tail (the ADC scan + exact rerank of
    ``ann_ivfpq_topk``, verbatim) over any codes table — in-memory
    (one-shot build) or persisted (partition-pruned parquet read).
    ``codes`` carries (id, cluster, codes[, vec]); the probed-cluster
    filter lands on it as a plain predicate, which a cluster-partitioned
    parquet layout turns into PartitionFilters. With ``embeddings=None``
    (vector-bearing layout) the exact rerank reads candidate vectors
    from the same pruned rows — no corpus join. Deterministic end to
    end: same stable argsorts, id tie-breaks, and rounded-sim rules as
    the one-shot path, so persisted and in-memory answers hash equal on
    identical inputs."""
    m, _, ds = books.shape
    books_c = np.ascontiguousarray(books, dtype=np.float64)

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    _require_bounded_queries(q, "ann_ivfpq_topk", max_query_rows)
    q_rows = q.collect()
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    q_mat = (
        np.array([np.asarray(r["qvec"], dtype=np.float64) for r in q_rows])
        if q_rows
        else np.zeros((0, m * ds))
    )
    nq = len(q_rows)
    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    # per-query probe lists by the SAME L2 rule as ivf_assign
    if nq:
        d2 = (cent * cent).sum(axis=1)[None, :] - 2.0 * (q_mat @ cent.T)
        probe = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]  # (nq, nprobe)
        probed_clusters = sorted({int(c) for row in probe for c in row})
        probe_mask = np.zeros((nq, len(cent)), dtype=bool)
        for qi in range(nq):
            probe_mask[qi, probe[qi]] = True
        qc_offset = q_mat @ cent.T  # (nq, k): the q·c term of the IP
    else:
        probed_clusters = []
    top_r = rerank * k

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )

    def adc_kernel(batches):
        import pyarrow as pa

        from actuarial_reserve_modelling_spark.operators.arrowkit import fixed_vecs, int_col

        if nq == 0:
            return
        luts = [q_mat[:, j * ds : (j + 1) * ds] @ books_c[j].T for j in range(m)]
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            nid = int_col(batch.column("neighbor_id"))
            cl = int_col(batch.column("cluster"))
            cds = fixed_vecs(batch.column("codes"), d=m, dtype=np.int64)
            ordn = np.argsort(nid, kind="stable")
            nid, cl, cds = nid[ordn], cl[ordn], cds[ordn]
            adc = qc_offset[:, cl]  # (nq, n): q·centroid of each row's list
            for j in range(m):
                adc += luts[j][:, cds[:, j]]
            adc[~probe_mask[:, cl]] = -np.inf  # only probed lists count
            adc[q_ids[:, None] == nid[None, :]] = -np.inf  # self-exclusion
            take = min(top_r, n)
            top = np.argsort(-adc, axis=1, kind="stable")[:, :take]
            rows_q = np.repeat(q_ids, take)
            rows_n = nid[top].ravel()
            rows_a = np.take_along_axis(adc, top, axis=1).ravel()
            keep = np.isfinite(rows_a)
            yield pa.record_batch(
                [
                    pa.array(rows_q[keep]),
                    pa.array(rows_n[keep]),
                    pa.array(rows_a[keep], type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "adc"],
            )

    from actuarial_reserve_modelling_spark.operators import spread_for_kernel

    probed_codes = codes.filter(F.col("cluster").isin(probed_clusters))
    scan = probed_codes.select(
        F.col(id_col).alias("neighbor_id"), "cluster", "codes"
    )
    scored = spread_for_kernel(scan).mapInArrow(adc_kernel, schema=out_schema)
    w_adc = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), "neighbor_id")
    cand = (
        scored.withColumn("r", F.row_number().over(w_adc))
        .filter(F.col("r") <= top_r)
        .select("query_id", "neighbor_id")
    )
    if embeddings is None:
        # corpus-scan-free rerank: candidate vectors come from the SAME
        # pruned codes partitions the ADC scan read (vector-bearing
        # persisted layout) — zero corpus files per query batch
        if "vec" not in codes.columns:
            raise ValueError(
                "_ivfpq_query: embeddings=None requires a vector-bearing "
                "codes table (persist_ivfpq_index(store_vectors=True)); "
                "this codes frame has no 'vec' column"
            )
        c = probed_codes.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("vec").alias("cvec"),
            dot("vec", "vec").alias("dcc"),
        )
    else:
        c = embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            dot(vec_col, vec_col).alias("dcc"),
        )
    # corpus self-dot precomputed per row (bit-identical cosine()
    # restructuring — see cosine_from_sq); the query side stays inline:
    # it is the bounded, broadcast side, not worth a column
    exact = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot("qvec", "cvec")
                / F.sqrt(dot("qvec", "qvec") * F.col("dcc")),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


_CODES = Dataset("codes", "cluster")


@leased("path")
def persist_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int | str = 16,
    m_subspaces: int = 8,
    n_codes: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    store_vectors: bool = True,
) -> None:
    """Persist an IVF-PQ index: train the coarse quantizer and residual codebooks
    once, encode the corpus, and write the build-once/query-many
    layout —

    * ``codes/`` — (id, codes[, vec]) parquet PARTITIONED BY
      ``cluster``: the scan side of every ADC query, laid out on the
      key queries probe so a batch reads nprobe/k of the code bytes
      (and the codes are the 32×-compressed representation — the
      whole point of PQ at 100 TB);
    * ``cents/`` — the k coarse-centroid rows;
    * ``books/`` — the m·n_codes residual codebook rows;
    * ``meta/`` — build parameters (m_subspaces, n_codes, whether
      vectors are stored, layout version).

    ``store_vectors=True`` (default) keeps each vector next to its
    code word so the exact rerank is corpus-scan-free, same contract
    as the hierarchical index: storage pays one raw-vector column,
    queries never touch the corpus table. Pass False for the pure
    32×-compressed layout when the rerank may re-read the corpus.

    Training/encoding reuse the one-shot path's kernels verbatim
    (``ivf_train_centroids`` / ``pq_train_codebooks`` / ``pq_encode``
    on residuals), so a persisted index answers hash-identically to
    ``ann_ivfpq_topk`` on the same inputs."""
    spark = embeddings.sparkSession
    n_centroids = resolve_n_centroids(embeddings, n_centroids, id_col=id_col)
    centroids = ivf_train_centroids(
        embeddings, n_centroids=n_centroids, n_iters=n_iters,
        id_col=id_col, vec_col=vec_col,
    )
    assign = ivf_assign(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    with_cluster = embeddings.select(id_col, vec_col).join(assign, id_col)
    residuals = _ivf_residuals(with_cluster, centroids, id_col=id_col, vec_col=vec_col)
    books = pq_train_codebooks(
        residuals, m_subspaces=m_subspaces, n_codes=n_codes, n_iters=n_iters,
        id_col=id_col, vec_col=vec_col, dim=centroids.shape[1],
    )
    codes = pq_encode(residuals, books, id_col=id_col, vec_col=vec_col).join(
        assign, id_col
    )
    if store_vectors:
        codes = codes.join(
            embeddings.select(id_col, F.col(vec_col).alias("vec")), id_col
        ).select(id_col, "codes", "vec", "cluster")
    else:
        codes = codes.select(id_col, "codes", "cluster")
    _CODES.write(codes, path, "overwrite")
    cent_rows = [(i, [float(x) for x in row]) for i, row in enumerate(centroids)]
    spark.createDataFrame(
        cent_rows, schema="cluster int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/cents")
    m, nc, ds = books.shape
    book_rows = [
        (j, c, [float(x) for x in books[j, c]])
        for j in range(m)
        for c in range(nc)
    ]
    spark.createDataFrame(
        book_rows, schema="sub int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/books")
    write_meta(
        spark,
        path,
        m_subspaces=int(m),
        n_codes=int(nc),
        has_vectors=store_vectors,
        layout_version=1,
    )


def load_ivfpq_index(
    spark: SparkSession, path: str
) -> tuple[np.ndarray, np.ndarray, dict]:
    """Reload the driver-resident pieces of a ``persist_ivfpq_index``
    layout: (coarse centroids (k, d), codebooks (m, n_codes, d/m),
    meta dict). Parquet doubles are bitwise, so a reloaded index
    routes, encodes, and scores identically to the in-memory build.
    The codes/ dataset stays on disk — queries read it pruned."""
    meta = read_meta(
        spark,
        path,
        "persist_ivfpq_index",
        {"m_subspaces": int, "n_codes": int, "has_vectors": bool, "layout_version": int},
    )

    def load() -> tuple[np.ndarray, np.ndarray]:
        cent_rows = spark.read.parquet(path + "/cents").orderBy("cluster").collect()
        centroids = np.array(
            [np.asarray(r["centroid"], dtype=np.float64) for r in cent_rows]
        )
        book_rows = spark.read.parquet(path + "/books").orderBy("sub", "code").collect()
        m, nc = meta["m_subspaces"], meta["n_codes"]
        ds = len(book_rows[0]["centroid"])
        books = np.zeros((m, nc, ds), dtype=np.float64)
        for r in book_rows:
            books[int(r["sub"]), int(r["code"])] = np.asarray(
                r["centroid"], dtype=np.float64
            )
        centroids.setflags(write=False)
        books.setflags(write=False)
        return centroids, books

    centroids, books = cached_piece(path, "ivfpq_pieces", load)
    return centroids, books, meta


@leased("path")
def add_to_ivfpq_index(
    spark: SparkSession,
    path: str,
    new_embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    check_existing: bool = True,
) -> None:
    """Incremental encode-and-append into a persisted IVF-PQ index
    (the l35 analogue for the PQ tier): hard-assign each new vector to
    its coarse list with the SAME ``ivf_assign`` arithmetic the build
    used, encode its RESIDUAL with the persisted codebooks (no
    retraining — the quantizer is immutable, membership is mutable,
    the same contract as the hierarchical index), and append the new
    code rows to their clusters' partition directories. Per-batch cost
    is the batch's assignment + encode + a partition-local append.

    Idempotent retry by default: the batch anti-joins against existing
    ids in its hard clusters (a read pruned to those partitions) so a
    re-run after a mid-append crash appends nothing twice. On a
    vector-bearing layout the batch's vectors land next to their codes,
    keeping the corpus-scan-free rerank true across ingests."""
    centroids, books, meta = load_ivfpq_index(spark, path)
    hard = ivf_assign(new_embeddings, centroids, id_col=id_col, vec_col=vec_col)
    with_cluster = new_embeddings.select(id_col, vec_col).join(hard, id_col)
    if check_existing:
        with_cluster = _CODES.unindexed(
            spark, path, with_cluster, id_col, _CODES.parts_of(with_cluster)
        )
    residuals = _ivf_residuals(with_cluster, centroids, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(residuals, books, id_col=id_col, vec_col=vec_col).join(
        hard, id_col
    )
    if meta["has_vectors"]:
        codes = codes.join(
            new_embeddings.select(id_col, F.col(vec_col).alias("vec")), id_col
        ).select(id_col, "codes", "vec", "cluster")
    else:
        codes = codes.select(id_col, "codes", "cluster")
    _CODES.write(codes, path)


@leased("path")
def delete_from_ivfpq_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> None:
    """Remove vectors from a persisted IVF-PQ index: same
    immutable-quantizer/mutable-membership semantics, crash contract,
    and touched-partition-only rewrite as ``delete_from_ann_index``,
    over the ``cluster``-partitioned codes/ dataset."""
    _CODES.delete(spark, path, ids, id_col)


def ann_ivfpq_topk_persisted(
    spark: SparkSession,
    path: str,
    embeddings: DataFrame | None,
    queries: DataFrame,
    k: int = 5,
    nprobe: int | str = 4,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int | None = DEFAULT_MAX_QUERY_ROWS,
    recall_target: float = DEFAULT_RECALL_TARGET,
) -> DataFrame:
    """Query a persisted IVF-PQ index: reload the driver-resident
    centroids + codebooks (tiny), then run the one-shot path's exact
    ADC scan + rerank over the parquet codes table — the probed-cluster
    predicate lands on the cluster-partitioned layout as
    PartitionFilters, so a query batch reads nprobe/k of the CODE
    bytes (already 32× smaller than raw vectors). With
    ``embeddings=None`` on a vector-bearing layout the rerank too reads
    only those pruned rows — zero corpus files per batch.
    ``nprobe="auto"`` defaults from the tier's persisted recall curve
    (``persist_recall_audit``), warning with the measured curve when
    the corpus plateaus below ``recall_target``."""
    if nprobe == "auto":
        nprobe = _auto_probe(
            spark, path, "ann_ivfpq_topk_persisted", recall_target, fallback=4
        )
    centroids, books, meta = load_ivfpq_index(spark, path)
    codes = spark.read.parquet(path + "/codes").withColumn(
        "cluster", F.col("cluster").cast("int")
    )
    return _ivfpq_query(
        codes,
        embeddings,
        queries,
        centroids,
        books,
        k=k,
        nprobe=nprobe,
        rerank=rerank,
        id_col=id_col,
        vec_col=vec_col,
        max_query_rows=max_query_rows,
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs: DataFrame | None = None,
    exact: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster vectors whose pairwise cosine ≥
    ``threshold`` into connected components and keep one canonical
    representative (minimum id) per component — the embedding-level
    analogue of MinHash near-dup dedup, catching paraphrases and
    re-encodings that share no n-grams.

    Returns one row per input vector: (id, rep_id, keep) with
    keep = 1 iff the vector IS its component's representative
    (singletons keep themselves).

    Scale shape: the pair stage is pluggable via ``pairs`` (columns
    v1 < v2) — at 100 TB pass ``lsh_cosine_pairs`` output (hyperplane
    blocking, near-dup thresholds τ ≥ ~0.8) or ``ivf_cosine_pairs``
    (bounded-list IVF blocking, SemDeDup's moderate τ ≈ 0.3-0.6) so
    no all-pairs stage exists. The exact ``cosine_pairs`` baseline
    (O(n²) verify) must be opted into with ``exact=True`` — it is the
    correctness oracle path, not a corpus-scale default, so omitting
    both ``pairs`` and ``exact`` raises rather than silently running
    quadratic. Component finding reuses ``dedup_clusters`` (alternating
    large-star/small-star, O(log² n) rounds); the final join back to
    the full vector set is a digest-width shuffle (id, rep) — vectors
    never move.
    """
    from actuarial_reserve_modelling_spark.operators.dedup import dedup_clusters

    if pairs is None:
        if not exact:
            raise ValueError(
                "semantic_dedup needs an explicit pair stage: pass a blocked "
                "candidate-pair DataFrame via pairs= (e.g. lsh_cosine_pairs(...)) "
                "for corpus scale, or exact=True to opt into the O(n^2) "
                "cosine_pairs baseline."
            )
        pairs = cosine_pairs(embeddings, threshold, id_col=id_col, vec_col=vec_col)
    clusters = dedup_clusters(
        pairs.select(F.col("v1").alias("d1"), F.col("v2").alias("d2"))
    ).select(F.col("doc_id").alias(id_col), "rep_id")
    return (
        embeddings.select(id_col)
        .join(clusters, id_col, "left")
        .select(
            id_col,
            F.coalesce("rep_id", F.col(id_col)).alias("rep_id"),
            (F.coalesce("rep_id", F.col(id_col)) == F.col(id_col))
            .cast("int")
            .alias("keep"),
        )
    )


def lsh_cosine_dedup_against_index(
    new_vecs: DataFrame,
    sig_index: DataFrame,
    vec_index: DataFrame,
    threshold: float = 0.9,
    num_planes: int = 12,
    num_tables: int = 24,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 10_000,
    exclude_same_id: bool = False,
    presigned: DataFrame | None = None,
) -> DataFrame:
    """Incremental embedding near-dup check — the vector analogue of
    ``minhash_dedup_against_index``: (new_id, index_id, sim ≥ τ) pairs
    between an ingest batch and a PERSISTED signature index, without
    re-signing or re-scanning the existing corpus.

    ``sig_index`` holds (id, table, sig) rows as written by
    ``hyperplane_signatures_multi`` (same planes/tables/seed — the
    plane matrices regenerate identically from the seed, so the index
    never stores them); ``vec_index`` holds (id, vector) for the exact
    verify. Asymmetric equi-join on (table, sig): no new×new or
    index×index candidates are ever generated; the index side's
    degenerate buckets (> ``max_bucket_size`` members within one
    (table, sig)) are dropped before the join — the same skew guard,
    with the same recall-recovery-through-other-tables argument, as
    the MinHash form. Identical vectors collide in EVERY table
    deterministically, so exact re-encounters are found with
    probability 1.

    ``presigned``: an existing ``hyperplane_signatures_multi`` output
    over exactly ``new_vecs`` with the same parameters — skips the
    batch's signing kernel (extra columns like ``spart`` are dropped;
    validated by the persisted-tier caller, direct callers own the
    parameter match as they already do for ``sig_index``).
    """
    new_sigs = (
        presigned.select(F.col(id_col).alias("new_id"), "table", "sig")
        if presigned is not None
        else hyperplane_signatures_multi(
            new_vecs, num_planes, num_tables, seed, dim, id_col=id_col, vec_col=vec_col
        ).select(F.col(id_col).alias("new_id"), "table", "sig")
    )
    idx_sigs = sig_index.select(F.col(id_col).alias("index_id"), "table", "sig")
    bucket_sizes = idx_sigs.groupBy("table", "sig").agg(F.count(F.lit(1)).alias("_n"))
    idx_sigs = (
        idx_sigs.join(bucket_sizes, ["table", "sig"])
        .filter(F.col("_n") <= max_bucket_size)
        .drop("_n")
    )
    cand = new_sigs.join(idx_sigs, ["table", "sig"])
    if exclude_same_id:
        # replay shape (same contract as the persisted lookup): a batch
        # whose ids are already indexed must not self-reject
        cand = cand.filter(F.col("new_id") != F.col("index_id"))
    cand = cand.select("new_id", "index_id").distinct()
    a = new_vecs.select(F.col(id_col).alias("new_id"), F.col(vec_col).alias("e1"))
    b = vec_index.select(F.col(id_col).alias("index_id"), F.col(vec_col).alias("e2"))
    # batch Arrow kernel verify (bit-identical sequential sums); the
    # corpus-side index never broadcasts — the candidate join is
    # AQE-decided like the other pair paths
    sims = _kernel_cosine_sims(
        cand.join(a, "new_id").join(b, "index_id"), id1="new_id", id2="index_id"
    )
    return sims.select(
        "new_id", "index_id", F.round("sim", 6).alias("sim")
    ).filter(F.col("sim") >= threshold)


def mine_hard_negatives(
    embeddings: DataFrame,
    anchors: DataFrame,
    k: int = 1,
    margin: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    positive_id_col: str = "positive_id",
    candidates: DataFrame | None = None,
    max_query_rows: int | None = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """Contrastive hard-negative mining for embedding-model training
    (the ANCE/RocketQA curation step, arXiv:2007.00808 /
    arXiv:2010.08191): for every (anchor, positive) pair, surface the
    ``k`` corpus vectors MOST similar to the anchor that are neither
    the anchor nor its labeled positive, then drop candidates whose
    similarity reaches ``pos_sim - margin`` — the standard
    false-negative denoise (a "negative" nearly as close as the
    positive is more likely an unlabeled positive than a useful
    training signal).

    ``anchors`` carries (``id_col``, ``vec_col``, ``positive_id_col``);
    positives are resolved against ``embeddings`` by id (anchors whose
    positive id is absent from the corpus produce no output — an inner
    join, so a mislabeled pair surfaces as a missing row, not a NULL).

    Exact path (default): the anchor batch broadcasts against the
    corpus — the same bounded-query contract as ``cosine_topk``; the
    corpus streams through executors once, no shuffle beyond the final
    per-anchor top-k. Scale path: pass ``candidates`` (anchor_id,
    cand_id — e.g. from ``ann_ivf_hier_topk_persisted`` with a larger
    k) and only those pairs are scored — the ANN-mined-negatives shape
    used at corpus scale, where brute force is off the table.

    All sims are rounded to 6 dp BEFORE the margin filter and ranking
    (the repo-wide cross-engine float convention); ranks are assigned
    AFTER the margin filter, so the output is the k hardest SAFE
    negatives per anchor, ties by candidate id. Output (anchor_id,
    positive_id, negative_id, rank, pos_sim, neg_sim).
    """
    q = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(positive_id_col).alias("positive_id"),
        F.col(vec_col).alias("qvec"),
        dot(vec_col, vec_col).alias("dqq"),
    )
    c = embeddings.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cvec"),
        dot(vec_col, vec_col).alias("dcc"),
    )
    # pos_sim: one equi-join against the corpus on the positive's id —
    # |anchors| rows out, broadcast back onto the scored candidates.
    # positive_id rides along so the join below keys on the full
    # (anchor, positive) pair: an anchor listed with several positives
    # would otherwise cross-multiply here, pairing each candidate row
    # with the OTHER positive's pos_sim (wrong margin) and letting the
    # duplicated rows share one anchor's k ranked slots.
    pos = (
        q.join(c, q.positive_id == c.cand_id)
        .select(
            "anchor_id",
            "positive_id",
            F.round(cosine_from_sq("qvec", "cvec", "dqq", "dcc"), 6).alias("pos_sim"),
        )
    )
    if candidates is not None:
        # distinct: a duplicated candidate pair would otherwise occupy
        # two of the k ranked slots (row_number ranks duplicates apart)
        scored = (
            candidates.select("anchor_id", "cand_id")
            .distinct()
            .join(q, "anchor_id")
            .join(c, "cand_id")
        )
        # pos scales with the anchor set, which in the candidates path
        # is unbounded (corpus-scale mining anchors on every training
        # pair) — a forced broadcast would blow past the broadcast
        # ceiling at scale. The join is keyed on (anchor_id,
        # positive_id), which the candidates join already shuffles by;
        # let AQE pick broadcast vs shuffle from the observed size.
        pos_side = pos
    else:
        # exact path: the anchor batch broadcasts — enforce the
        # bounded-query-batch contract before building the plan
        _require_bounded_queries(
            q, "mine_hard_negatives (exact path)", max_query_rows
        )
        scored = c.crossJoin(F.broadcast(q))
        # the contract holds, so pos (one row per anchor pair) is
        # broadcast-sized by construction
        pos_side = F.broadcast(pos)
    sims = (
        scored.filter(
            (F.col("cand_id") != F.col("anchor_id"))
            & (F.col("cand_id") != F.col("positive_id"))
        )
        .select(
            "anchor_id",
            "positive_id",
            F.col("cand_id").alias("negative_id"),
            F.round(cosine_from_sq("qvec", "cvec", "dqq", "dcc"), 6).alias("neg_sim"),
        )
        .join(pos_side, ["anchor_id", "positive_id"])
        .filter(F.col("neg_sim") <= F.col("pos_sim") - F.lit(float(margin)))
    )
    # ranked per (anchor, positive) pair — the docstring contract; an
    # anchor with two positives gets k negatives for EACH pair
    w = Window.partitionBy("anchor_id", "positive_id").orderBy(
        F.col("neg_sim").desc(), "negative_id"
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "positive_id", "negative_id", "rank", "pos_sim", "neg_sim")
    )


# ---------------------------------------------------------------------------
# Persisted vector-signature tier: the embedding near-dup analogue of the
# dedup fingerprint tier (operators/dedup.py::persist_dedup_index), so the
# vector ingest gate (t12) reads per batch only its own signature cells
# instead of re-reading and re-shuffling the whole sig_index.
# ---------------------------------------------------------------------------

# vectors/ is the id side (verify and delete), sigs/ the lookup side
_VECSIG = Layout(
    "vec_id", Dataset("vectors", "part"), Dataset("sigs", "spart", cell=("table", "sig"))
)


def read_vecsig_index_meta(spark: SparkSession, path: str) -> dict:
    """Signature parameters persisted with the vector tier, cached per
    process. A missing meta/ raises loudly (there is no vecsig layout
    without one to fall back to); transient read failures propagate and
    are never cached."""

    def missing(e: AnalysisException) -> dict:
        raise ValueError(
            f"no vecsig index meta at {path}/meta — build the tier with "
            "persist_vecsig_index first"
        ) from e

    return read_meta(
        spark,
        path,
        "persist_vecsig_index",
        dict.fromkeys(
            ("num_planes", "num_tables", "seed", "dim", "n_buckets", "k_sig_parts",
             "layout_version"),
            int,
        ),
        missing,
    )


def vecsig_spart(k_sig_parts: int):
    """Hive partition key of the signature dataset: a hash of the FULL
    (table, sig) cell, so any batch can compute its own directory set
    from nothing but its signatures — the property partition pruning
    needs. pmod(xxhash64(...)) mixes both columns; sig alone spans only
    2^num_planes values and would alias tables together."""
    return hash_part(k_sig_parts, "table", "sig")


@leased("path")
def persist_vecsig_index(
    vecs: DataFrame,
    path: str,
    num_planes: int = 12,
    num_tables: int = 24,
    seed: int = 42,
    dim: int = 64,
    n_buckets: int | None = None,
    k_sig_parts: int | None = None,
    presigned: DataFrame | None = None,
) -> None:
    """Persist (vec_id, embedding) rows as the maintained vector
    near-dup tier:

    * ``sigs/`` — (vec_id, table, sig) from
      ``hyperplane_signatures_multi``, hive-PARTITIONED BY
      ``spart = pmod(xxhash64(table, sig), k_sig_parts)`` and sorted by
      (table, sig) within files: the LOOKUP side. An ingest batch signs
      itself, computes its own spart set (bounded: ≤ |batch|·tables
      values) and reads ONLY those directories — per-batch index bytes
      scale with the batch's signature footprint, never the corpus.
      Every member of a (table, sig) cell lives in ONE spart directory,
      so bucket-size skew stats computed over the pruned read are
      EXACT. One partition level, same rationale as the dedup tier's
      banded projection (a (table, spart) two-level layout multiplies
      directories by num_tables for identical touched bytes).
    * ``vectors/`` — (vec_id, embedding) hive-PARTITIONED BY
      ``part = pmod(xxhash64(vec_id), n_buckets)``: the VERIFY and
      delete side, read per batch only for the candidates' id-hash
      buckets; deletes rewrite only the buckets holding doomed ids.
    * ``meta/`` — the signature parameters. Ingest/query paths sign
      batches with the PERSISTED parameters (never the caller's), so a
      mismatched caller cannot silently corrupt the tier. No
      lying-meta risk here: this function signs the vectors itself.

    Auto-sizing mirrors the dedup tier: directory counts grow with the
    corpus (~500 vectors per id-hash bucket, ~1000 signature rows per
    spart directory, clamped to [16, 65536] / [8, 32768]), so per-dir
    bytes stay constant and a fixed batch's touched fraction SHRINKS as
    the corpus grows — the flat-per-batch acceptance curve
    tools/vecsig_stress.py records. meta/ is written LAST (the commit
    marker: every reader requires it).

    ``presigned``: an existing ``hyperplane_signatures_multi`` output
    (WITHOUT spart — the partition count is sized here) covering a
    SUPERSET of ``vecs``'s ids, built with the same parameters this
    call asserts — semi-joined to the input ids instead of re-signing
    (the semantic ingest gate's bootstrap reuses its within-batch
    kernel run). A one-pass table-count probe guards the num_tables
    match; deeper parameter mismatches rest on the caller, which is
    already asserting the parameters meta/ will record."""
    spark = vecs.sparkSession
    vecs = vecs.select("vec_id", "embedding").localCheckpoint(eager=False)
    # duplicate ids would silently duplicate rows in BOTH datasets (and
    # every later verify join's output); one metadata-light aggregate
    # fails loudly instead
    counts = vecs.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("vec_id").alias("d")
    ).first()
    n_rows = int(counts["n"])
    if n_rows != int(counts["d"]):
        raise ValueError(
            f"persist_vecsig_index: {n_rows - int(counts['d'])} duplicate "
            "vec_id rows in the input — the tier requires unique ids "
            "(dedupe or re-key before persisting)"
        )
    n_buckets, k_sig_parts = auto_parts(n_rows, n_buckets, k_sig_parts)
    if presigned is not None:
        accept_presigned(
            presigned,
            "hyperplane",
            dict(num_planes=num_planes, num_tables=num_tables, seed=seed, dim=dim),
            "persist_vecsig_index",
        )
        sigs = (
            presigned.select("vec_id", "table", "sig")
            .join(vecs.select("vec_id"), "vec_id", "leftsemi")
            .withColumn("spart", vecsig_spart(k_sig_parts))
        )
    else:
        sigs = hyperplane_signatures_multi(
            vecs, num_planes, num_tables, seed, dim
        ).withColumn("spart", vecsig_spart(k_sig_parts))
    _VECSIG.lookup.write(sigs, path, "overwrite")
    _VECSIG.ids.write(
        vecs.withColumn("part", hash_part(n_buckets, "vec_id")), path, "overwrite"
    )
    _write_index_stats(spark, path, n_rows)
    write_meta(
        spark,
        path,
        num_planes=int(num_planes),
        num_tables=int(num_tables),
        seed=int(seed),
        dim=int(dim),
        n_buckets=int(n_buckets),
        k_sig_parts=int(k_sig_parts),
        layout_version=1,
    )


def load_vecsig_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Reload (sig_index, vec_index) in the exact shapes the in-memory
    ``lsh_cosine_dedup_against_index`` consumes — the parity hook the
    pruned-path tests use."""
    sigs = _VECSIG.lookup.read(spark, path).select("vec_id", "table", "sig")
    vecs = _VECSIG.ids.read(spark, path).select("vec_id", "embedding")
    return sigs, vecs


@leased("path")
def add_to_vecsig_index(
    spark: SparkSession,
    path: str,
    new_vecs: DataFrame,
    check_existing: bool = True,
    presigned: DataFrame | None = None,
) -> None:
    """Incremental ingest into the persisted vector tier: sign the
    batch with the index's OWN persisted parameters and append to both
    datasets' own partition directories. Idempotent retry by default:
    each dataset anti-joins the batch against its existing ids, both
    reads pruned to the batch's own partitions (batch ids must be
    unique WITHIN the batch — the gates collapse within-batch
    duplicates first; the anti-join only guards re-ingesting
    already-indexed ids). sigs/ is written FIRST (the lookup-first rule
    of ``sources/tiers.py``): the worst mid-crash state is orphaned
    signature rows, which the verify join on vectors/ neutralizes.

    ``presigned``: an existing ``hyperplane_signatures_multi`` output
    (with ``spart``) covering a SUPERSET of ``new_vecs``'s ids, built
    with the tier's persisted parameters — semi-joined to the batch's
    ids instead of re-signing (the semantic ingest gate signs its
    batch once for the cross-batch check and reuses the frame here;
    signatures are deterministic, so appended rows are identical). A
    one-pass probe validates the table count against meta/; deeper
    parameter mismatches rest on the caller, as for the lookup twin."""
    meta = read_vecsig_index_meta(spark, path)
    batch = new_vecs.select("vec_id", "embedding").localCheckpoint(eager=False)
    if presigned is not None:
        accept_presigned(presigned, "hyperplane", meta, "add_to_vecsig_index")
        sigs = presigned.select("vec_id", "table", "sig", "spart")
    else:
        sigs = hyperplane_signatures_multi(
            batch, meta["num_planes"], meta["num_tables"], meta["seed"], meta["dim"]
        ).withColumn("spart", vecsig_spart(meta["k_sig_parts"]))
        sigs = sigs.localCheckpoint(eager=False)
    add_rows(
        spark,
        path,
        _VECSIG,
        batch,
        meta["n_buckets"],
        lambda rows: sigs.join(rows.select("vec_id"), "vec_id", "leftsemi"),
        check_existing,
    )


@leased("path")
def delete_from_vecsig_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> None:
    """Remove vectors from the persisted tier (right-to-be-forgotten on
    the vector near-dup side): the doomed vectors are read from
    vectors/ pruned to the deleted ids' id-hash buckets, re-signed with
    the persisted parameters to locate their spart directories, and
    both datasets are rewritten partition-locally — delete cost is
    O(doomed footprint), never an index scan.

    Crash contract (the lookup-first rule of ``sources/tiers.py``):
    sigs/ is rewritten FIRST — a crash after only that rewrite hides the
    doomed vectors from pruned lookups until the retry finishes, and the
    retry recomputes the doomed set from the still-intact vectors/."""
    meta = read_vecsig_index_meta(spark, path)

    def resign(doomed: DataFrame) -> DataFrame:
        return hyperplane_signatures_multi(
            doomed.select("vec_id", "embedding"),
            meta["num_planes"],
            meta["num_tables"],
            meta["seed"],
            meta["dim"],
        ).withColumn("spart", vecsig_spart(meta["k_sig_parts"]))

    delete_rows(spark, path, _VECSIG, ids, id_col, meta["n_buckets"], resign)


@leased("path")
def compact_vecsig_index(
    spark: SparkSession, path: str, max_files_per_partition: int = 4
) -> int:
    """Fold append-accumulated small files in BOTH persisted vector
    datasets (see ``sources.tiers.Dataset.compact``). Returns the total
    number of partitions compacted."""
    n = _VECSIG.lookup.compact(spark, path, max_files_per_partition)
    return n + _VECSIG.ids.compact(spark, path, max_files_per_partition)


# Adaptive routing crossover for the persisted vector tier: the
# pruned path wins once the corpus outgrows the batch's signature-cell
# footprint — tools/vecsig_stress.py (BASELINE.md) measured full
# scan ahead through 512k vectors for a 200-vector batch (4,800 sig
# rows), with the documented crossover at the cell-saturation point
# n ≈ 1000 · |batch| · num_tables ≈ 4.8M (k_sig_parts sizes at
# n/1000, so below that every spart directory is touched and pruning
# buys nothing while its fixed driver jobs cost ~3 s).
_VECSIG_ROUTE_CELLS_FACTOR = 1000


def lsh_cosine_dedup_against_index_persisted(
    spark: SparkSession,
    path: str,
    new_vecs: DataFrame,
    threshold: float = 0.9,
    max_bucket_size: int = 10_000,
    exclude_same_id: bool = True,
    route: str = "auto",
    presigned: DataFrame | None = None,
) -> DataFrame:
    """``lsh_cosine_dedup_against_index`` against the PERSISTED tier,
    with per-batch cost O(batch's signature footprint) instead of
    O(index) — the vector twin of
    ``minhash_dedup_against_index_persisted``:

    1. the batch signs itself with the persisted parameters and
       computes its own (table, sig) cell set — bounded at
       ≤ |batch|·num_tables;
    2. sigs/ is read pruned to the batch's spart directories
       (PartitionFilters — index bytes read scale with the batch's
       signature footprint, never the corpus); the skew-guard bucket
       sizes are computed over that same pruned read and are EXACT
       (every member of a (table, sig) cell lives in one spart);
    3. candidates equi-join on (table, sig), dedup to (new_id,
       index_id), and verify with the exact cosine against vectors/
       read pruned to the candidates' id-hash buckets.

    Driver-side collects: spart values (≤ k_sig_parts ints) and
    candidate id-hash buckets (≤ n_buckets ints) — nothing scales with
    the corpus. Answers are identical to the in-memory operator under
    the same parameters (identical vectors collide in every table with
    probability 1, so exact re-encounters are always found).

    ``route``: ``"auto"`` (default) picks pruned vs the
    full-scan twin from the tier's advisory row count (stats/,
    maintained by persist/add/delete) against the batch's signature
    footprint — below ``_VECSIG_ROUTE_CELLS_FACTOR`` · |batch·tables|
    the fixed driver-job overhead of pruning costs more than just
    scanning the whole (still-small) index (measured 2× slower at
    small scale). Both paths return
    identical answers (twin pytest), so routing is pure performance.
    ``"pruned"`` / ``"full"`` force a side (stress tools, tests).
    Unknown stats (a tier without stats/, crashed stats rewrite) routes pruned
    — the scale-safe side.

    ``presigned``: an existing ``hyperplane_signatures_multi`` output
    over EXACTLY ``new_vecs``, built with the tier's persisted
    parameters and carrying the ``spart`` partition column (the
    semantic ingest gate signs its batch once and shares the frame
    with ``add_to_vecsig_index``); the caller manages its
    materialization. A one-pass probe validates the table count
    against meta/ so a frame signed with a different ``num_tables``
    fails loudly (planes/seed/dim mismatches are not detectable from
    signature values — that part of the contract rests on the caller,
    exactly as it does for the in-memory twin's ``sig_index``)."""
    if route not in ("auto", "pruned", "full"):
        raise ValueError(f"route must be auto|pruned|full, got {route!r}")
    meta = read_vecsig_index_meta(spark, path)
    if presigned is not None:
        accept_presigned(
            presigned, "hyperplane", meta, "lsh_cosine_dedup_against_index_persisted"
        )
    batch = new_vecs.select("vec_id", "embedding").localCheckpoint(eager=False)
    # decided BEFORE signing: the decision needs only |batch| (a count
    # over the checkpointed batch — no hyperplane kernel), so a full-scan
    # route skips the signature-footprint job entirely
    if not route_pruned(
        spark, path, route,
        lambda: _VECSIG_ROUTE_CELLS_FACTOR * batch.count() * meta["num_tables"],
    ):
        sig_index, vec_index = load_vecsig_index(spark, path)
        return lsh_cosine_dedup_against_index(
            batch,
            sig_index,
            vec_index,
            threshold=threshold,
            num_planes=meta["num_planes"],
            num_tables=meta["num_tables"],
            seed=meta["seed"],
            dim=meta["dim"],
            max_bucket_size=max_bucket_size,
            exclude_same_id=exclude_same_id,
            presigned=presigned,
        )
    new_sigs = (
        presigned
        if presigned is not None
        else hyperplane_signatures_multi(
            batch, meta["num_planes"], meta["num_tables"], meta["seed"], meta["dim"]
        )
        .withColumn("spart", vecsig_spart(meta["k_sig_parts"]))
        .localCheckpoint(eager=False)
    )
    # ONE footprint job: materializes the signatures and returns the
    # pruned read's directory set
    sparts = _VECSIG.lookup.parts_of(new_sigs)
    idx_sigs = _VECSIG.lookup.read_guarded(
        spark, path, sparts, max_bucket_size
    ).select(F.col("vec_id").alias("index_id"), "table", "sig")
    cand = new_sigs.select(
        F.col("vec_id").alias("new_id"), "table", "sig"
    ).join(idx_sigs, ["table", "sig"])
    if exclude_same_id:
        cand = cand.filter(F.col("new_id") != F.col("index_id"))
    # consumed twice (id-bucket collect + verify join) — lazily pinned
    # so the pruned signature join runs once, materialized BY the
    # cparts collect below (one job, not an eager checkpoint and then a
    # separate collect)
    cand = cand.select("new_id", "index_id").distinct().localCheckpoint(eager=False)
    cparts = _VECSIG.ids.parts_of(
        cand.select(hash_part(meta["n_buckets"], "index_id").alias("part"))
    )
    vecs = _VECSIG.ids.read(spark, path, cparts)
    a = batch.select(F.col("vec_id").alias("new_id"), F.col("embedding").alias("e1"))
    b = vecs.select(F.col("vec_id").alias("index_id"), F.col("embedding").alias("e2"))
    sims = _kernel_cosine_sims(
        cand.join(a, "new_id").join(b, "index_id"), id1="new_id", id2="index_id"
    )
    return sims.select(
        "new_id", "index_id", F.round("sim", 6).alias("sim")
    ).filter(F.col("sim") >= threshold)
