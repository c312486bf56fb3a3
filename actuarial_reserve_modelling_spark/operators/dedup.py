"""Deduplication operators (SURVEY §2.10 L1/L2): exact, MinHash-LSH,
SimHash, n-gram Jaccard, and winnowing fingerprints.

Scale design (the 100 TB story):

* Exact dedup hashes the text once map-side and shuffles 16-byte digests,
  never full documents.
* MinHash-LSH is the canonical blocking design: O(n) signatures →
  band-bucket shuffle → pair generation only *within* buckets → exact
  verification join. No O(n²) stage; bucket skew (a degenerate band
  value collecting millions of docs) is the known hazard — AQE skew
  split handles moderate skew, and a bucket-size cap drops degenerate
  buckets (logged) the way production pipelines do.
* SimHash is fully JVM-side (md5-derived word hashes, bit arithmetic) —
  fingerprints are one int64 per doc; near-dup pairs come from an exact
  pigeonhole-banded equi-join on fingerprint bands (never all-pairs).
* N-gram Jaccard pairs use exact prefix-filter blocking (rarest-gram
  prefixes, equi-join on prefix grams) — deterministic candidate
  guarantee, no all-pairs stage.
* Winnowing selects O(len/w) rolling-hash fingerprints per document —
  robust to local edits, used for code/plagiarism-style matching.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from functools import lru_cache, partial
from itertools import chain
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from actuarial_reserve_modelling_spark.operators.sigparams import accept_presigned
from actuarial_reserve_modelling_spark.sources.lease import leased
from actuarial_reserve_modelling_spark.sources.tiers import (
    Dataset,
    Layout,
    _write_index_stats,
    add_rows,
    auto_parts,
    delete_rows,
    hash_part,
    read_meta,
    route_pruned,
    write_meta,
)

# Tokens: distinct, non-empty, whitespace-split. Kept identical to the
# DuckDB oracle's string_split + filter + DISTINCT.
TOKENS = "array_distinct(filter(split(text, ' '), x -> x != ''))"
# The sorted xxhash64 token array every MinHash path keys, signs and
# verifies on (the ``htok`` column of the dedup tier).
HTOK = f"array_sort(transform({TOKENS}, t -> xxhash64(t)))"
# The default MinHash seed of every signing path (the t11 ingest gate
# signs and persists with it), and the LSH skew guard: a band bucket
# with more members than this is dropped as degenerate.
MINHASH_SEED = 42
MAX_BUCKET_SIZE = 10_000


def _hashed_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, htok) of the documents that have tokens: the ``HTOK``
    array every MinHash path signs and verifies on."""
    return docs.select(
        "doc_id", F.expr(HTOK.replace("text", text_col)).alias("htok")
    ).filter(F.size("htok") > 0)


def _opt_broadcast(df: DataFrame, hint: bool) -> DataFrame:
    """Broadcast hint only when the caller asserts the side is bounded.
    Default path leaves the strategy to Catalyst/AQE, which promotes to
    broadcast at runtime when the actual build size is under threshold —
    a hard-coded hint on an unbounded side forces an OOM at corpus scale
    instead of letting the planner degrade to a shuffled join."""
    return F.broadcast(df) if hint else df


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """L1: group by md5(text); keep the minimum doc_id as the canonical
    representative. Returns (text_hash, keep_id, dup_count)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 192,
    seed: int = MINHASH_SEED,
    text_col: str = "text",
) -> DataFrame:
    """MinHash signature per document over its distinct token set.

    ``num_hashes`` universal-hash draws h_i(t) = a_i * base(t) + b_i
    (mod 2^64, numpy wraparound), minimized over tokens — an Arrow
    pandas kernel vectorized as a (k × n_tokens) matrix per doc.
    Returns (doc_id, sig: array<bigint>).
    """
    toks = docs.select("doc_id", F.expr(TOKENS.replace("text", text_col)).alias("tokens"))
    return _signatures_from_tokens(toks, num_hashes=num_hashes, seed=seed)


def _signatures_from_tokens(
    toks: DataFrame, num_hashes: int = 192, seed: int = MINHASH_SEED
) -> DataFrame:
    """MinHash kernel over a pre-tokenized (doc_id, tokens) frame —
    shared by the raw-text path and the exact-collapse path, which has
    already paid for tokenization.

    The 64-bit base hash per token is computed JVM-side (``xxhash64``
    inside whole-stage codegen) so only (doc_id, array<int64>) crosses
    the Arrow boundary and the Python kernel is pure numpy — no per-token
    Python-object work. MinHash only needs the base hash family to be
    uniform, not any specific function, and the verify stage is exact, so
    the choice of xxhash64 is free.
    """
    hashed = toks.select(
        "doc_id", F.expr("transform(tokens, t -> xxhash64(t))").alias("htok")
    )
    return _signatures_from_hashed(hashed, num_hashes=num_hashes, seed=seed)


def _minhash_coeffs(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """The universal-hash draws (a odd, b) of a MinHash signing."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 63, size=num_hashes, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64)
    return a, b


def minhash_rows(
    values: np.ndarray, lens: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """MinHash signatures of ``len(lens)`` token-hash rows given as ONE
    flat int64 ``values`` buffer (row i holds the next ``lens[i]``
    values), as an ``(n, len(a))`` int64 matrix; a token-less row signs
    to zeros. The numpy body of the ``_signatures_from_hashed`` kernel —
    the t11 ingest gate signs its driver-resident batch with this same
    function, so both sides are bit-identical by construction."""
    num_hashes = len(a)
    ends = np.cumsum(lens)
    n = len(lens)
    sig_rows = np.zeros((n, num_hashes), dtype=np.int64)
    # bound the per-dispatch token slice: the scratch row is 8
    # bytes/token, so 2^18 tokens keeps it at 2 MB (L2-resident
    # while the per-hash reduceat re-reads it)
    chunk_token_budget = 1 << 18
    # chunked batch vectorization: one flat-slice of token hashes
    # per run of docs, broadcast all hash functions over it,
    # segment-minimize with minimum.reduceat — one numpy dispatch
    # per chunk instead of one per document
    start = 0
    while start < n:
        end, tot = start, 0
        while end < n and (end == start or tot + lens[end] <= chunk_token_budget):
            tot += lens[end]
            end += 1
        nonempty = np.nonzero(lens[start:end])[0] + start
        if len(nonempty):
            lo = ends[start - 1] if start else 0
            # empty rows contribute nothing to the values buffer,
            # so the chunk's tokens are one contiguous slice
            base = values[lo : ends[end - 1]].view(np.uint64)
            bounds = (ends[nonempty] - lens[nonempty] - lo).astype(np.int64)
            # one contiguous multiply+add+reduceat per hash row
            # into a reused scratch buffer. The obvious
            # broadcast form (a[:,None]*base[None,:]+b[:,None])
            # hits numpy's stride-0 generic inner loop for u64
            # multiply — measured 123 ns/element vs ~3 ns here
            # (~70× on the whole chunk, r14 microbench). u64
            # wraparound arithmetic is per-element, so the
            # signatures are bit-identical either way (pinned
            # by test_minhash_rowloop_matches_broadcast).
            mins = np.empty((num_hashes, len(bounds)), dtype=np.uint64)
            tmp = np.empty(len(base), dtype=np.uint64)
            for i in range(num_hashes):
                np.multiply(base, a[i], out=tmp)
                tmp += b[i]
                np.minimum.reduceat(tmp, bounds, out=mins[i])
            sig_rows[nonempty, :] = mins.T.view(np.int64)
        start = end
    return sig_rows


def _signed_schema(num_hashes: int, seed: int, carry_htok: bool) -> T.StructType:
    """(doc_id[, htok], sig) with the params-hash stamped into the sig
    field's metadata: the presigned accept sites verify it against the
    tier's persisted parameters (driver-side, zero jobs), so a
    same-shape/different-seed frame fails loudly instead of corrupting
    the tier."""
    from actuarial_reserve_modelling_spark.operators.sigparams import (
        SIG_PARAMS_KEY,
        minhash_fingerprint,
    )

    fields = [T.StructField("doc_id", T.LongType())]
    if carry_htok:
        fields.append(T.StructField("htok", T.ArrayType(T.LongType())))
    fields.append(
        T.StructField(
            "sig",
            T.ArrayType(T.LongType()),
            metadata={SIG_PARAMS_KEY: minhash_fingerprint(num_hashes, seed)},
        )
    )
    return T.StructType(fields)


def _signatures_from_hashed(
    hashed: DataFrame, num_hashes: int = 192, seed: int = MINHASH_SEED,
    carry_htok: bool = False,
) -> DataFrame:
    """MinHash kernel over a pre-hashed (doc_id, htok: array<bigint>)
    frame — the innermost entry point, for callers (exact-collapse) that
    already hold xxhash64 token arrays. Token order is irrelevant: the
    signature is a min over the set.

    ``carry_htok=True`` passes the input token arrays through the
    kernel (zero-copy Arrow column) and returns (doc_id, htok, sig) —
    for callers that need tokens AND signatures side by side
    (``build_dedup_index``): the r14 profile showed the join-back
    formulation re-running the whole tokenize/hash/sort subtree once
    per join side, so the index build paid tokenization twice plus a
    join exchange for a column the kernel already held."""
    a, b = _minhash_coeffs(num_hashes, seed)
    schema = _signed_schema(num_hashes, seed, carry_htok)

    def kernel(batches):
        # mapInArrow (r8): the token lists arrive as an Arrow ListArray
        # whose flat values buffer IS the concatenated form
        # ``minhash_rows`` consumes — the pandas version re-built it per
        # batch from n per-row Python lists (~1 s per 200k rows of pure
        # conversion before any hashing; see operators/arrowkit.py).
        import pyarrow as pa

        from actuarial_reserve_modelling_spark.operators.arrowkit import (
            int_col,
            ragged_values,
            rows_to_list_array,
        )

        for batch in batches:
            if batch.num_rows == 0:  # same guard as the similarity kernels
                continue
            ids = int_col(batch.column("doc_id"))
            values, lens, _ = ragged_values(batch.column("htok"))
            sig_rows = minhash_rows(values, lens, a, b)
            cols = [pa.array(ids, type=pa.int64())]
            names = ["doc_id"]
            if carry_htok:
                # zero-copy passthrough: output rows are emitted in
                # input order, so the original column aligns as-is
                htok_col = batch.column("htok")
                if isinstance(htok_col, pa.ChunkedArray):
                    htok_col = htok_col.combine_chunks()
                cols.append(htok_col)
                names.append("htok")
            cols.append(rows_to_list_array(sig_rows, pa.int64()))
            names.append("sig")
            yield pa.record_batch(cols, names=names)

    from actuarial_reserve_modelling_spark.operators import spread_for_kernel

    # the fused row-loop kernel runs ~0.1 µs/input-byte (r14 microbench:
    # 0.087 s over 918 KB of token hashes — the old broadcast-multiply
    # form was ~4 µs/byte and forced a 16 KiB/task spread), so ~65 ms of
    # kernel CPU per task is ~512 KiB of input
    return spread_for_kernel(hashed, bytes_per_task=512 << 10).mapInArrow(
        kernel, schema=schema
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 24,
    rows_per_band: int = 8,
    max_bucket_size: int = MAX_BUCKET_SIZE,
    size_ratio: float | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate (d1, d2) pairs sharing at
    least one band bucket.

    Single-pass formulation: slice → hash → explode → groupBy bucket →
    sorted member list → two-level combination explode. A bucket
    self-join would execute the (Arrow kernel) signature subtree twice
    and shuffle it twice; here the kernel runs once and the only
    shuffles are the bucket groupBy and the final pair distinct. The
    two-level explode (one row per (bucket, member) carrying only the
    members *after* it) keeps per-row arrays ≤ bucket size — no giant
    combination arrays.

    ``max_bucket_size`` drops degenerate buckets (skew guard): a band
    value collecting a huge near-identical cluster contributes O(n²)
    pairs; other bands recover recall for genuinely-similar pairs, and
    at 100 TB you lower the cap and log the drops.

    ``size_ratio``: when set, ``signatures`` must carry a ``sz`` column
    (token-set cardinality) and pairs whose size ratio
    min(sz)/max(sz) < size_ratio are pruned DURING bucket expansion —
    before they ever reach the pair-distinct shuffle. Jaccard ≤
    min/max, so with ``size_ratio = τ`` (minus the caller's rounding
    slack) the prune is exact. On a dense-similarity corpus this drops
    the majority of the expansion volume (measured 2.9 M → 0.96 M
    distinct candidates at sf0.1, τ=0.95).
    """
    band_cols = [
        F.hash(F.slice("sig", i * rows_per_band + 1, rows_per_band)).alias(f"b{i}")
        for i in range(bands)
    ]
    member = (
        F.struct(F.col("doc_id"), F.col("sz"))
        if size_ratio is not None
        else F.col("doc_id")
    )
    banded = signatures.select(
        member.alias("m"), F.posexplode(F.array(*band_cols)).alias("band", "bucket")
    )
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("m")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    )
    # A tight cluster collides in MANY bands, producing the same member
    # set (hence the same pairs) once per band. Dedup the member sets
    # BEFORE the quadratic pair expansion: the distinct here is over
    # ≤ bands × n_buckets short arrays, while the one it saves would be
    # over bands × Σ C(|bucket|, 2) expanded pairs.
    unique_sets = grouped.select("ids").distinct()
    members = unique_sets.select(F.posexplode("ids").alias("i", "m1"), "ids")
    pairs = members.select(
        "m1",
        F.explode(
            F.slice("ids", F.col("i") + 2, F.size("ids") - F.col("i") - 1)
        ).alias("m2"),
    )
    if size_ratio is not None:
        pairs = pairs.filter(
            F.least("m1.sz", "m2.sz")
            >= F.lit(size_ratio) * F.greatest("m1.sz", "m2.sz")
        ).select(F.col("m1.doc_id").alias("m1"), F.col("m2.doc_id").alias("m2"))
    return pairs.select(
        F.col("m1").alias("d1"), F.col("m2").alias("d2")
    ).distinct()


def verify_jaccard(
    candidates: DataFrame,
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    broadcast_tokens: bool = False,
) -> DataFrame:
    """Exact token-set Jaccard for each candidate pair; keep >= threshold.
    Joins the (small) token arrays to the pair list — the only stage that
    touches document content after blocking."""
    toks = docs.select(
        F.col("doc_id"), F.expr(TOKENS.replace("text", text_col)).alias("tokens")
    )
    return _verify_jaccard_tokens(candidates, toks, threshold, broadcast_tokens)


def _verify_jaccard_tokens(
    candidates: DataFrame,
    toks: DataFrame,
    threshold: float,
    broadcast_tokens: bool = False,
) -> DataFrame:
    """verify_jaccard over a pre-tokenized (doc_id, tokens) frame.

    Set cardinalities are invariant under injective maps, so Jaccard is
    computed on xxhash64-hashed token arrays: bigint array_intersect is
    several times cheaper than string array_intersect (no per-element
    string hashing/equality in the hot loop), and a broadcast build side
    shrinks to 8 bytes per token. A 64-bit in-document collision
    (probability ~n²/2⁶⁵ per doc) is the accepted approximation — the
    same trade every production MinHash pipeline makes.

    ``broadcast_tokens=True`` asserts the token table is bounded (e.g. a
    pre-filtered subset) and hints both sides so the potentially huge
    candidate list never shuffles; the default lets AQE choose, which is
    the only safe answer when the corpus is unbounded.
    """
    hashed = toks.select(
        "doc_id", F.expr("transform(tokens, t -> xxhash64(t))").alias("tokens")
    )
    t1 = _opt_broadcast(
        hashed.select(F.col("doc_id").alias("d1"), F.col("tokens").alias("tok1")),
        broadcast_tokens,
    )
    t2 = _opt_broadcast(
        hashed.select(F.col("doc_id").alias("d2"), F.col("tokens").alias("tok2")),
        broadcast_tokens,
    )
    joined = candidates.join(t1, "d1").join(t2, "d2")
    return _jaccard_score_filter(joined, threshold, round_before_filter=False).select(
        "d1", "d2", "jac"
    )


def _jaccard_score_filter(
    joined: DataFrame, threshold: float, round_before_filter: bool
) -> DataFrame:
    """Shared exact-Jaccard verify over a frame carrying ``tok1``/``tok2``
    hashed-token arrays: length prefilter → single array_intersect →
    threshold filter; adds a ``jac`` column (rounded to 6 dp).

    ``round_before_filter`` pins WHICH value the threshold compares:
    True rounds first (callers whose oracle filters the rounded value —
    the fused minhash path), and the length prefilter then carries a
    1e-6 slack because rounding can lift jac by up to 5e-7; False
    filters the raw value (verify_jaccard's contract) and the prefilter
    is slack-free. Keeping both modes in ONE helper is the point — the
    prefilter slack and the filter operand must change together or the
    prefilter silently drops qualifying pairs.
    """
    slack = 1e-6 if round_before_filter else 0.0
    # length prefilter: jac = |∩|/|∪| ≤ min(|a|,|b|)/max(|a|,|b|) — a
    # pair whose size ratio is under τ can never verify; skip its
    # intersect entirely
    prefilter = F.least(F.size("tok1"), F.size("tok2")) >= (
        F.lit(threshold) - F.lit(slack)
    ) * F.greatest(F.size("tok1"), F.size("tok2"))
    out = (
        joined.filter(prefilter)
        .withColumn("_inter", F.size(F.array_intersect("tok1", "tok2")))
        # try_divide: two token-less docs (union=0) are NULL → dropped by
        # the threshold filter, matching the oracle where such docs never
        # enter the words set. Plain '/' hard-fails under ANSI mode.
        .withColumn(
            "_raw_jac",
            F.try_divide(
                F.col("_inter").cast("double"),
                (F.size("tok1") + F.size("tok2") - F.col("_inter")).cast("double"),
            ),
        )
    )
    if round_before_filter:
        out = out.withColumn("jac", F.round("_raw_jac", 6)).filter(
            F.col("jac") >= threshold
        )
    else:
        out = out.filter(F.col("_raw_jac") >= threshold).withColumn(
            "jac", F.round("_raw_jac", 6)
        )
    return out.drop("_inter", "_raw_jac")


def minhash_near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.95,
    bands: int = 24,
    rows_per_band: int = 8,
    seed: int = MINHASH_SEED,
    text_col: str = "text",
    broadcast_verify: bool = False,
) -> DataFrame:
    """L2 end-to-end: exact collapse → MinHash → LSH blocking →
    exact-Jaccard verify → pair expansion.

    ``broadcast_verify`` hints the verify join's build sides (the hashed
    token + member-list table). Leave False for unbounded corpora: AQE
    promotes to broadcast at runtime when the collapsed-representative
    table is genuinely small, and degrades to a shuffled hash join when
    it is not — a hard hint would instead OOM the build side.

    Stage 0 (the big win on real corpora, which are full of exact
    duplicates): group documents by their *distinct token set* and run
    the quadratic-ish LSH machinery on one representative per group.
    Jaccard is a pure function of the token set, so every member of a
    group has identical similarity relationships; the final answer is
    reconstructed exactly as

      * within-group pairs: jaccard 1.0 by construction (≥ any
        threshold), emitted directly without verification;
      * cross-group pairs: each verified representative pair (r1, r2)
        expands to members(g1) × members(g2).

    A group of n identical docs costs O(n) instead of O(n²) signature +
    verify work; only distinct token sets enter the LSH shuffle. With
    b=24, r=8 the LSH miss probability at jac=0.95 is (1-0.95^8)^24
    ≈ 4e-12, so the verified output equals the exact all-pairs answer
    (what the DuckDB oracle computes) without the O(n²) scan.

    Token-less documents (empty token set) are excluded up front: their
    Jaccard with anything — including each other — is 0/0 = NULL in the
    oracle, never ≥ threshold.
    """
    # hash every token exactly once (JVM-side, inside codegen): the
    # collapse key, the MinHash kernel, and the Jaccard verify all
    # consume the 8-byte hashed tokens, so token STRINGS never survive
    # this stage — the checkpointed group table and the verify build
    # sides carry bigint arrays only (the per-token 64-bit hash is the
    # same collision trade the verify stage makes)
    htoks = _hashed_tokens(docs, text_col)
    # canonical token-set key: two independent xxhash64 digests of the
    # sorted hashed-token array (order-independent, 128-bit combined —
    # no giant concat string to build)
    groups = (
        htoks.withColumn("k1", F.xxhash64("htok"))
        .withColumn("k2", F.xxhash64(F.lit(7), "htok"))
        .groupBy("k1", "k2")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.array_sort(F.collect_list("doc_id")).alias("members"),
            # every member of a group has the identical token set by
            # construction; min_by pins the choice deterministically
            F.min_by("htok", "doc_id").alias("htok"),
        )
        # reused by signatures, verify, and both expansions — cache to
        # keep the tokenization+shuffle subtree from running 4×
        .localCheckpoint(eager=False)
    )
    # the kernel carries htok through, so the token-set size the bucket
    # expansion prunes on is a narrow projection — not the join back to
    # ``groups`` this replaced (r14); the 1e-6 slack matches the
    # round-before-filter verify below
    signed = _signatures_from_hashed(
        groups.select(F.col("rep_id").alias("doc_id"), "htok"),
        num_hashes=bands * rows_per_band,
        seed=seed,
        carry_htok=True,
    )
    sigs_sz = signed.select("doc_id", "sig", F.size("htok").alias("sz"))
    cands = lsh_candidate_pairs(
        sigs_sz,
        bands=bands,
        rows_per_band=rows_per_band,
        size_ratio=threshold - 1e-6,
    )

    # fused verify + expansion: one broadcast per pair side carrying the
    # hashed tokens AND the member list, so candidate pairs are verified
    # and expanded in a single stage (2 broadcast builds instead of 4)
    side1 = _opt_broadcast(
        groups.select(
            F.col("rep_id").alias("d1"),
            F.col("htok").alias("tok1"),
            F.col("members").alias("mem1"),
        ),
        broadcast_verify,
    )
    side2 = _opt_broadcast(
        groups.select(
            F.col("rep_id").alias("d2"),
            F.col("htok").alias("tok2"),
            F.col("members").alias("mem2"),
        ),
        broadcast_verify,
    )
    # round_before_filter: the DuckDB oracle filters round(jac, 6) ≥ τ,
    # so the verify must compare the rounded value too
    verified = _jaccard_score_filter(
        cands.join(side1, "d1").join(side2, "d2"), threshold, round_before_filter=True
    )
    cross = (
        verified.select(F.explode("mem1").alias("a"), "mem2", "jac")
        .select("a", F.explode("mem2").alias("b"), "jac")
        .select(
            F.least("a", "b").alias("d1"), F.greatest("a", "b").alias("d2"), "jac"
        )
    )
    within = (
        groups.filter(F.size("members") >= 2)
        .select(F.posexplode("members").alias("i", "d1"), "members")
        .select(
            "d1",
            F.explode(
                F.slice("members", F.col("i") + 2, F.size("members") - F.col("i") - 1)
            ).alias("d2"),
        )
        .withColumn("jac", F.lit(1.0))
    )
    return cross.unionByName(within)


# --- driver-resident near-dup (bounded micro-batches) ----------------------

_MICRO = Decimal("0.000001")


@lru_cache(maxsize=4096)
def _round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on the shortest
    decimal form of ``x`` (Scala's ``BigDecimal(x)``)."""
    return float(Decimal(repr(x)).quantize(_MICRO, rounding=ROUND_HALF_UP))


def sign_local(
    rows: list[tuple[int, list[int]]], num_hashes: int, seed: int = MINHASH_SEED
) -> list[tuple[int, list[int], list[int]]]:
    """``build_dedup_index`` rows (doc_id, htok, sig) of driver-resident
    ``(doc_id, htok)`` rows, signed by ``minhash_rows`` — the kernel's
    own arithmetic, so the signatures are bit-identical to the Spark
    path's."""
    a, b = _minhash_coeffs(num_hashes, seed)
    lens = np.fromiter((len(h) for _, h in rows), dtype=np.int64, count=len(rows))
    values = np.fromiter(
        chain.from_iterable(h for _, h in rows), dtype=np.int64, count=int(lens.sum())
    )
    sigs = minhash_rows(values, lens, a, b)
    return [(int(d), list(h), s) for (d, h), s in zip(rows, sigs.tolist())]


def dedup_index_frame(
    spark: SparkSession,
    signed: list[tuple[int, list[int], list[int]]],
    num_hashes: int,
    seed: int = MINHASH_SEED,
) -> DataFrame:
    """Driver-signed rows (``sign_local``) as a ``build_dedup_index``
    frame (doc_id, htok, sig) carrying the same params-hash stamp, so
    the ``presigned=`` sites and ``persist_dedup_index`` accept it like
    the kernel's output."""
    from actuarial_reserve_modelling_spark.operators.arrowkit import local_frame

    return local_frame(spark, signed, _signed_schema(num_hashes, seed, True))


class LocalNearDup(NamedTuple):
    """``minhash_near_dup_pairs`` of a driver-resident batch, before the
    pair expansion: ``members`` maps each exact-collapse rep (the
    minimum id of a distinct token set) to its sorted member ids,
    ``verified`` holds the rep pairs ``(r1 < r2, round(jac, 6))`` that
    pass the exact verify, and ``signed`` the reps'
    ``build_dedup_index`` rows (doc_id, htok, sig)."""

    members: dict[int, list[int]]
    verified: list[tuple[int, int, float]]
    signed: list[tuple[int, list[int], list[int]]]

    def reps(self) -> dict[int, int]:
        """Each member's component representative — the minimum id of
        its connected component in the expanded pair graph — by
        union-find over the groups and the verified rep pairs, without
        expanding pairs."""
        parent = {r: r for r in self.members}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r1, r2, _ in self.verified:
            x, y = find(r1), find(r2)
            if x != y:
                parent[max(x, y)] = min(x, y)
        return {d: find(r) for r, ids in self.members.items() for d in ids}


def minhash_near_dup_local(
    rows: list[tuple[int, list[int]]],
    threshold: float = 0.95,
    bands: int = 24,
    rows_per_band: int = 8,
) -> LocalNearDup:
    """``minhash_near_dup_pairs`` on the driver, for a batch small
    enough to hold there (the t11 ingest gate's micro-batch). ``rows``
    are ``(doc_id, htok)`` with ``htok`` the sorted hashed token array
    (the ``HTOK`` expression); token-less rows get no pairs. The stages
    are the Spark operator's: exact collapse on the token set (rep =
    minimum id), ``minhash_rows`` signatures under ``MINHASH_SEED``,
    ``rows_per_band`` band slices with the ``MAX_BUCKET_SIZE`` skew
    guard, the size-ratio prune and the exact verify
    ``round(jac, 6) ≥ τ`` (sizes count the hashed tokens, the
    intersection their distinct values, as ``array_intersect`` does).
    One difference: a bucket is keyed by the band slice itself, not by
    its 32-bit ``hash``, so no two slices share a bucket by collision.

    Cost is quadratic in the reps that share a bucket: every candidate
    pair is held as one int64 and verified once."""
    groups: dict[tuple[int, ...], list[int]] = {}
    for doc_id, htok in rows:
        if len(htok):
            groups.setdefault(tuple(htok), []).append(int(doc_id))
    toks = {}
    members = {}
    for key, ids in groups.items():
        ids.sort()
        members[ids[0]] = ids
        toks[ids[0]] = key
    reps = sorted(members)
    signed = sign_local(
        [(r, toks[r]) for r in reps], bands * rows_per_band, MINHASH_SEED
    )
    sig = np.array([s for _, _, s in signed], dtype=np.int64).reshape(
        len(reps), bands * rows_per_band
    )
    sets = set()
    for i in range(bands):
        buckets: dict[bytes, list[int]] = {}
        block = np.ascontiguousarray(sig[:, i * rows_per_band : (i + 1) * rows_per_band])
        for j, key in enumerate(block):
            buckets.setdefault(key.tobytes(), []).append(j)
        sets.update(tuple(m) for m in buckets.values() if 2 <= len(m) <= MAX_BUCKET_SIZE)
    # candidate rep pairs p < q, encoded p * n + q: one int64 per pair
    n = len(reps)
    enc = [np.empty(0, dtype=np.int64)]
    for m in sets:
        ids = np.array(m, dtype=np.int64)
        i, j = np.triu_indices(len(ids), 1)
        enc.append(ids[i] * n + ids[j])
    p, q = np.divmod(np.unique(np.concatenate(enc)), n)
    sz = np.array([len(toks[r]) for r in reps], dtype=np.int64)
    ratio = threshold - 1e-6
    keep = np.minimum(sz[p], sz[q]) >= ratio * np.maximum(sz[p], sz[q])
    tok_sets = [set(toks[r]) for r in reps]
    sz = sz.tolist()
    verified = []
    for a, b in zip(p[keep].tolist(), q[keep].tolist()):
        inter = len(tok_sets[a] & tok_sets[b])
        jac = inter / (sz[a] + sz[b] - inter)
        # round(jac, 6) >= τ needs jac >= τ - 5e-7: the exact (Decimal)
        # rounding runs only on pairs that can pass
        if jac >= ratio and (jac := _round6(jac)) >= threshold:
            verified.append((reps[a], reps[b], jac))
    return LocalNearDup(members, verified, signed)


def _symmetrize(pairs: DataFrame) -> DataFrame:
    """Undirected edge list (u, v) with both orientations, no self-loops."""
    e = pairs.select(F.col("d1").alias("u"), F.col("d2").alias("v"))
    return (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): every node connects its strictly
    LARGER neighbors to the minimum of its neighborhood (incl. itself).
    Input and output are symmetric-orientation edge lists.

    r14: the neighborhood minimum comes from a WINDOW over the same
    partitioning instead of a groupBy-min + join back — one exchange
    of the edge list per round instead of an aggregate exchange plus a
    join whose min-table (one row per vertex) stops being
    broadcastable exactly when the graph is large, degrading to a
    second full edge shuffle. Same emitted edge set, bit for bit."""
    w = Window.partitionBy("u")
    emitted = (
        edges.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("d1"), F.col("m").alias("d2"))
    )
    # dedup happens once inside _symmetrize — no extra shuffle here
    return _symmetrize(emitted)


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node connects its smaller-or-equal
    neighbors (and itself) to the minimum among them. Window-based for
    the same one-exchange-per-round reason as ``_large_star``; the
    per-vertex (u, min) row the old groupBy produced is recovered from
    the row_number()==1 row of the same sorted window pass."""
    oriented = edges.filter(F.col("v") < F.col("u"))  # smaller neighbors only
    w = Window.partitionBy("u")
    ranked = oriented.select(
        "u",
        "v",
        F.min("v").over(w).alias("m"),
        F.row_number().over(w.orderBy("v")).alias("_rn"),
    )
    emitted = ranked.select(F.col("v").alias("d1"), F.col("m").alias("d2")).unionByName(
        ranked.filter(F.col("_rn") == 1).select(
            F.col("u").alias("d1"), F.col("m").alias("d2")
        )
    )
    return _symmetrize(emitted)


def dedup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over the near-dup pair graph → one canonical
    representative (minimum doc_id) per cluster. This is the final step
    of production dedup: pairs → clusters → keep one doc per cluster.

    Alternating large-star/small-star rounds (Kiveris et al., SoCC'14) —
    the shape that holds at 100 TB: converges in O(log² n) rounds on any
    graph (vs. O(diameter) for plain min-label propagation), and every
    round SHRINKS the edge set toward a star forest, so per-round shuffle
    volume decreases instead of staying flat. Each round is a groupBy-min
    plus one broadcast-or-hash join keyed on the node id; edge lists are
    localCheckpointed per round to cut the growing lineage. Convergence
    is detected by a structural star-forest test folded into the same
    per-round aggregate as the order-insensitive edge-set signature
    (count + xxhash64 sum, kept as the fallback) — an already-converged
    edge set stops WITHOUT a confirming round, and a star-forest input
    runs zero rounds.

    Returns (doc_id, rep_id) for every vertex that appears in ``pairs``:
    after convergence the edge set IS the star forest, so child→root
    edges are read off directly and roots map to themselves.
    """
    # Lazy checkpoints, materialized BY the signature aggregate: the
    # eager form paid one driver job to checkpoint and a second to
    # compute the signature over it — per round. The signature's
    # collect is the first action over the checkpointed plan, so it
    # both pins the edge set and reads it in ONE job (r14: halves the
    # per-round job count; the cc loop is fixed-overhead-bound on
    # small graphs and job-count-bound at any scale).
    edges = _symmetrize(pairs).localCheckpoint(eager=False)
    # Vertex set off the checkpointed symmetric edges — NOT off ``pairs``,
    # which would re-run the (often expensive) upstream pair pipeline.
    verts = edges.select(F.col("u").alias("doc_id")).distinct()

    def signature(e: DataFrame) -> tuple:
        # One job returns the order-insensitive edge-set signature AND
        # a structural star-forest test (r14): a symmetric, distinct,
        # self-loop-free edge list is a star forest rooted at component
        # minima iff every vertex either has all-larger neighbors (a
        # root) or exactly one smaller neighbor (a child) — "viol"
        # counts the vertices violating that. viol == 0 implies both
        # star rounds are the identity on e (a child emits nothing in
        # large-star and re-emits its one (child, root) edge in
        # small-star; a root re-emits (child, root) for every child),
        # so the loop can stop WITHOUT the confirming round the
        # signature-equality test costs — and an input that is already
        # a star forest (disjoint pairs are the common gate-batch
        # shape) runs zero rounds. The per-vertex grouping adds one
        # exchange of partially-aggregated (vertex, count, min) rows
        # to this job — bounded by the vertex count, versus the full
        # extra round (two windows + a distinct over the edge list) it
        # replaces.
        row = (
            e.groupBy("u")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("_h"),
                F.min("v").alias("_mn"),
            )
            .agg(
                F.sum("_n").alias("n"),
                F.sum("_h").alias("h"),
                F.sum(
                    F.when(
                        (F.col("_mn") < F.col("u")) & (F.col("_n") > 1), 1
                    ).otherwise(0)
                ).alias("viol"),
            )
            .collect()[0]
        )
        return (row["n"], row["h"]), int(row["viol"] or 0)

    sig, viol = signature(edges)
    for _ in range(max_iterations):
        if viol == 0:
            break
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        new_sig, viol = signature(edges)
        if viol == 0 or new_sig == sig:
            break
        sig = new_sig
    else:
        # An unconverged edge set is NOT a star forest: the read-off below
        # would silently return non-canonical, mutually inconsistent reps.
        # O(log² n) rounds is the proven bound — exhausting 20 means
        # something is wrong with the input graph; fail loudly.
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iterations} "
            f"large-star/small-star rounds (last edge signature {sig}); "
            f"raise max_iterations"
        )

    # Star forest: every remaining edge points child → component-min root
    # (in the symmetric list the child is the larger endpoint). groupBy-min
    # guards the (converged) uniqueness of each child's root.
    child_root = (
        edges.filter(F.col("v") < F.col("u"))
        .groupBy(F.col("u").alias("doc_id"))
        .agg(F.min("v").alias("rep_id"))
    )
    return (
        verts.join(child_root, "doc_id", "left")
        .select("doc_id", F.coalesce("rep_id", F.col("doc_id")).alias("rep_id"))
    )


# --- SimHash ----------------------------------------------------------------

# 60-bit word hash: first 15 hex chars of md5 — chosen because both
# engines parse it identically (Spark conv(hex,16,10); DuckDB '0x'||h
# cast). 60 bits keeps the fingerprint positive in an int64.
SIMHASH_BITS = 60


def simhash_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """SimHash fingerprint per doc, entirely JVM-side (no UDF):
    explode distinct words → 60-bit md5 word hash → per-bit ±1 votes →
    majority bit → weighted sum. Returns (doc_id, fp)."""
    words = docs.select(
        "doc_id", F.explode(F.expr(TOKENS.replace("text", text_col))).alias("w")
    )
    hashed = words.select(
        "doc_id", F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("bigint").alias("h")
    )
    bits = hashed.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("b"),
    ).select(
        "doc_id",
        "b",
        # shiftright/shiftleft builtins take literal bit counts only, so
        # the per-row shift goes through the SQL expression form.
        F.expr("(shiftright(h, cast(b AS INT)) & 1) * 2 - 1").alias("sign"),
    )
    votes = bits.groupBy("doc_id", "b").agg(F.sum("sign").alias("s"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.expr(
                "CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)) "
                "ELSE CAST(0 AS BIGINT) END"
            )
        ).alias("fp")
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 2,
    text_col: str = "text",
    bands: int = 4,
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """Pairs of docs whose SimHash fingerprints differ in ≤ max_hamming
    bits, via a banded equi-join (the Manku/Jain/Sarma WWW'07 shape).

    Pigeonhole: split the 60-bit fingerprint into ``bands`` contiguous
    bands (4 × 15 bits by default). A pair differing in ≤ max_hamming
    bits has at most max_hamming bands touched, so as long as
    ``max_hamming < bands`` at least one band is bit-identical — the
    pair MUST collide on that band's equi-join key. Exact, not
    probabilistic: candidate generation is (band_idx, band_bits)
    equi-joins, the residual Hamming filter removes false candidates.
    No all-pairs stage anywhere; bucket membership is capped like
    ``lsh_candidate_pairs`` (a degenerate band value — e.g. a template
    corpus sharing 15 identical bits — is the known skew hazard).
    """
    if max_hamming >= bands:
        raise ValueError(
            f"banded SimHash needs max_hamming < bands for the pigeonhole "
            f"guarantee (got max_hamming={max_hamming}, bands={bands})"
        )
    width = SIMHASH_BITS // bands
    # checkpoint the fingerprints: they feed the band explode AND the
    # final per-side hamming lookup — without it the (4-shuffle) simhash
    # subtree would execute three times
    fps = simhash_fingerprints(docs, text_col=text_col).localCheckpoint(eager=False)
    band_keys = F.array(
        *[
            F.expr(f"shiftright(fp, {i * width}) & {(1 << width) - 1}")
            for i in range(bands)
        ]
    )
    # members carry their full fingerprint (one bigint) through the
    # bucket groupBy, so the residual Hamming verify runs DURING pair
    # expansion — before the pair-distinct shuffle — and no fp-lookup
    # joins are needed afterwards at all: the only shuffles in the whole
    # operator are the bucket groupBy, the member-set distinct, and the
    # final (already-verified) pair distinct.
    banded = fps.select(
        F.struct("doc_id", "fp").alias("m"),
        F.posexplode(band_keys).alias("band", "key"),
    )
    grouped = (
        banded.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list("m")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    )
    # same member-set dedup as lsh_candidate_pairs: a near-identical pair
    # collides in several bands; dedup the short member arrays before the
    # quadratic pair expansion
    unique_sets = grouped.select("ids").distinct()
    members = unique_sets.select(F.posexplode("ids").alias("i", "m1"), "ids")
    return (
        members.select(
            "m1",
            F.explode(
                F.slice("ids", F.col("i") + 2, F.size("ids") - F.col("i") - 1)
            ).alias("m2"),
        )
        .withColumn(
            "hamming", F.bit_count(F.col("m1.fp").bitwiseXOR(F.col("m2.fp")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("m1.doc_id").alias("d1"),
            F.col("m2.doc_id").alias("d2"),
            "hamming",
        )
        .distinct()
    )


# --- character n-gram Jaccard ----------------------------------------------


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.6) -> DataFrame:
    """Character n-gram Jaccard near-dup pairs via EXACT prefix-filter
    blocking (Chaudhuri et al. ICDE'06; the MapReduce set-similarity
    join of Vernica et al. SIGMOD'10) — no all-pairs stage, and unlike
    MinHash blocking the candidate guarantee is deterministic, so the
    output provably equals the all-pairs answer.

    Prefix-filter lemma: order every doc's gram set by one global order
    (ascending corpus frequency, rarest first — ties by gram). Jaccard
    ≥ τ forces |g1 ∩ g2| ≥ τ·max(|g1|,|g2|), and two sets whose ordered
    prefixes of length |g| − ⌈τ·|g|⌉ + 1 are disjoint can share at most
    ⌈τ·|g|⌉ − 1 elements — so every qualifying pair collides on ≥ 1
    prefix gram. Candidates come from an equi-join on prefix grams
    (rare grams → small buckets by construction); exact intersect/union
    math verifies. Stages: gram frequency (groupBy), per-doc frequency
    sort (one window), prefix explode + equi-join, verify join."""
    # the length guard matters: sequence(1, stop) DESCENDS when stop < 1
    # in Spark SQL, so a sub-n-char doc would otherwise yield the
    # spurious gram set {""} and pair with every other short doc at
    # jaccard 1.0 (DuckDB's generate_series yields empty instead —
    # found by the brute-force hypothesis property test)
    grams = docs.filter(F.length("text") >= n).select(
        "doc_id",
        F.array_distinct(
            F.expr(f"transform(sequence(1, length(text) - {n - 1}), i -> substring(text, i, {n}))")
        ).alias("g"),
    )
    # feeds the prefix derivation AND the two verify lookups
    grams = grams.localCheckpoint(eager=False)

    exploded = grams.select("doc_id", F.size("g").alias("sz"), F.explode("g").alias("gram"))
    freq = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("f"))
    w = Window.partitionBy("doc_id").orderBy("f", "gram")
    prefix = (
        exploded.join(freq, "gram")
        .withColumn("rn", F.row_number().over(w))
        # prefix length |g| - ceil(τ|g|) + 1; the 1e-9 guards against
        # float error inflating ceil (which would SHORTEN the prefix and
        # break the candidate guarantee — erring longer is merely slower)
        .filter(
            F.col("rn")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)) + 1
        )
        .select("doc_id", "sz", "gram")
    )
    cand = (
        prefix.select(F.col("doc_id").alias("d1"), F.col("sz").alias("s1"), "gram")
        .join(
            prefix.select(F.col("doc_id").alias("d2"), F.col("sz").alias("s2"), "gram"),
            "gram",
        )
        .filter(F.col("d1") < F.col("d2"))
        # size prune before the distinct shuffle: jac ≤ min(|g1|,|g2|)/
        # max(|g1|,|g2|), so ratio-incompatible pairs can't verify (the
        # final filter compares the RAW jac, so no rounding slack needed)
        .filter(
            F.least("s1", "s2") >= F.lit(threshold) * F.greatest("s1", "s2")
        )
        .select("d1", "d2")
        .distinct()
    )
    # verify on xxhash64-hashed gram arrays: set cardinalities are
    # invariant under injective maps, and bigint array_intersect is
    # several times cheaper than string intersect over millions of
    # candidates (same accepted ~n²/2⁶⁵ collision trade as the MinHash
    # verify, _verify_jaccard_tokens)
    hashed = grams.select(
        "doc_id", F.expr("transform(g, x -> xxhash64(x))").alias("g")
    )
    g1 = hashed.select(F.col("doc_id").alias("d1"), F.col("g").alias("g1"))
    g2 = hashed.select(F.col("doc_id").alias("d2"), F.col("g").alias("g2"))
    return (
        cand.join(g1, "d1")
        .join(g2, "d2")
        .withColumn("_i", F.size(F.array_intersect("g1", "g2")).cast("double"))
        .withColumn(
            "jac",
            F.try_divide(
                F.col("_i"), F.size("g1") + F.size("g2") - F.col("_i")
            ),
        )
        .filter(F.col("jac") >= threshold)
        .select("d1", "d2", F.round("jac", 6).alias("jac"))
    )


# --- edit-distance (Levenshtein) pairs --------------------------------------


def levenshtein_pairs(
    strs: DataFrame,
    max_dist: int,
    q: int = 2,
    id_col: str = "doc_id",
    str_col: str = "head",
) -> DataFrame:
    """Edit-distance self-join via q-gram PREFIX filtering (the ED-Join
    shape, Xiao et al. VLDB'08, on the q-gram bound of Gravano et al.
    VLDB'01): d edits destroy at most d·q of a string's n − q + 1
    positional q-grams, so with every string's gram occurrences sorted
    by one global order (ascending corpus frequency, rarest first; ties
    by gram then position), a pair within distance d must collide on a
    gram VALUE between their prefixes of length d·q + 1 — if no prefix
    value of s1 occurred anywhere in s2, all d·q + 1 prefix occurrences
    were destroyed, exceeding the d·q budget; and a surviving value
    ≺-below s2's prefix cutoff is necessarily IN s2's prefix. Exact
    blocking on globally-rare grams: the candidate equi-join never
    buckets on common grams (the failure mode of plain positional
    q-gram joins on natural text), and a |Δlen| ≤ d filter prunes
    further. DP levenshtein verifies candidates.

    The pigeonhole needs d·q + 1 ≤ n − q + 1, i.e. n ≥ q·(d + 1);
    shorter strings carry no guarantee and are EXCLUDED (documented
    contract — callers wanting them must lower q or d).
    Returns (d1, d2, dist) with d1 < d2, dist ≤ max_dist.
    """
    min_len = q * (max_dist + 1)
    prefix_len = max_dist * q + 1
    base = strs.select(id_col, str_col).filter(F.length(str_col) >= min_len)
    base = base.localCheckpoint(eager=False)  # feeds prefix build + verify
    grams = base.select(
        F.col(id_col).alias("gid"),
        F.length(str_col).alias("slen"),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length({str_col}) - {q - 1}),"
                f" i -> substring({str_col}, i, {q}))"
            )
        ).alias("pos", "gram"),
    )
    freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("f"))
    w = Window.partitionBy("gid").orderBy("f", "gram", "pos")
    prefix = (
        grams.join(freq, "gram")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        # same VALUE may occupy several prefix slots; one is enough to join
        .select("gid", "slen", "gram")
        .distinct()
    )
    cand = (
        prefix.select(F.col("gid").alias("d1"), F.col("slen").alias("n1"), "gram")
        .join(
            prefix.select(F.col("gid").alias("d2"), F.col("slen").alias("n2"), "gram"),
            "gram",
        )
        .filter(
            (F.col("d1") < F.col("d2"))
            & (F.abs(F.col("n1") - F.col("n2")) <= max_dist)
        )
        .select("d1", "d2")
        .distinct()
    )
    s1 = base.select(F.col(id_col).alias("d1"), F.col(str_col).alias("s1"))
    s2 = base.select(F.col(id_col).alias("d2"), F.col(str_col).alias("s2"))
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        # banded DP via the threshold form: O(d·n) per pair instead of
        # O(n²), returns -1 above the threshold (exact value otherwise)
        .withColumn(
            "dist", F.levenshtein("s1", "s2", threshold=max_dist).cast("int")
        )
        .filter(F.col("dist") >= 0)
        .select("d1", "d2", "dist")
    )


# --- winnowing fingerprints -------------------------------------------------


def winnowing_fingerprints(
    docs: DataFrame, k: int = 5, window: int = 4, text_col: str = "text"
) -> DataFrame:
    """Document fingerprinting via winnowing (Schleimer et al., SIGMOD'03):
    hash every k-gram, take the minimum of each sliding window of
    ``window`` consecutive gram hashes, emit the distinct selected hashes
    per document. Output (doc_id, fp_hash) — join fp_hash to find
    local-overlap docs.

    Entirely JVM-side: gram extraction is substring arithmetic, the gram
    hash is the 60-bit md5 prefix (same derivation as SimHash's word
    hash, reproducible in DuckDB as ``('0x' || substr(md5(g),1,15))``),
    and the sliding minimum is a frame-bounded window aggregate. The
    per-doc window sort is the only cost beyond the explode — no Python,
    no shuffle besides the window partition and the final distinct.
    Winnowing needs any fixed uniform gram hash; rolling hashes are a
    single-threaded optimization, irrelevant under columnar execution.
    """
    # docs shorter than k have no k-gram and emit nothing (the skip-short
    # contract; also guards sequence(1, 0), which is DESCENDING [1, 0] —
    # Spark's sequence defaults to step -1 when start > stop, so without
    # the filter a short/empty doc would fabricate two bogus grams)
    grams = docs.filter(F.length(text_col) >= k).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length({text_col}) - {k - 1}),"
                f" i -> substring({text_col}, i, {k}))"
            )
        ).alias("pos0", "gram"),
    )
    hashed = grams.select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.expr("cast(conv(substring(md5(gram), 1, 15), 16, 10) as bigint)").alias("h"),
    )
    doc_w = Window.partitionBy("doc_id")
    slide_w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        hashed.withColumn("n_grams", F.max("pos").over(doc_w))
        .withColumn("wmin", F.min("h").over(slide_w))
        # one window per valid start; short docs (n_grams <= window)
        # degenerate to the single global-min fingerprint via pos=1
        .filter(F.col("pos") <= F.greatest(F.col("n_grams") - (window - 1), F.lit(1)))
        .select("doc_id", F.col("wmin").alias("fp_hash"))
        .distinct()
    )


def build_dedup_index(
    docs: DataFrame,
    bands: int = 24,
    rows_per_band: int = 8,
    seed: int = MINHASH_SEED,
    text_col: str = "text",
) -> DataFrame:
    """Build the persistable near-dup index for INCREMENTAL ingest:
    (doc_id, htok, sig) — the sorted hashed-token array (verify input)
    plus the MinHash signature (blocking input).

    The 100 TB flow this enables: the corpus index is built ONCE (or
    maintained batch over batch) and persisted partitioned; each new
    ingest batch is deduplicated AGAINST it via
    ``minhash_dedup_against_index`` without ever re-scanning, re-hashing,
    or self-joining the existing corpus — per-batch cost is
    O(batch + matched buckets), not O(corpus). Token-less documents are
    excluded (their Jaccard with anything is NULL, never ≥ τ)."""
    htoks = _hashed_tokens(docs, text_col)
    # one narrow pass: the kernel carries htok through alongside the
    # signatures it computes — the former ``htoks.join(sigs, "doc_id")``
    # executed the tokenize/hash/sort subtree once per join side and
    # paid a join exchange for a column the kernel already held
    return _signatures_from_hashed(
        htoks, num_hashes=bands * rows_per_band, seed=seed, carry_htok=True
    )


# fingerprints/ is the id side (verify and delete), banded/ the lookup side
_DEDUP = Layout(
    "doc_id",
    Dataset("fingerprints", "part"),
    Dataset("banded", "bpart", cell=("band", "bucket")),
)
_read_banded_pruned = _DEDUP.lookup.read  # banded/ pruned to a bpart set


@leased("path")
def persist_dedup_index(
    index: DataFrame,
    path: str,
    bands: int = 24,
    rows_per_band: int = 8,
    seed: int = MINHASH_SEED,
    n_buckets: int | None = None,
    k_band_parts: int | None = None,
) -> None:
    """Persist a ``build_dedup_index`` output as the maintained
    fingerprint tier of the incremental-ingest flow (the dedup
    analogue of ``persist_ann_index``):

    * ``fingerprints/`` — (doc_id, htok, sig) hive-PARTITIONED BY
      ``part = pmod(xxhash64(doc_id), n_buckets)``: a stable id-hash
      layout, so a delete touches only the buckets that actually hold
      deleted ids (the right-to-be-forgotten path rewrites a handful
      of directories, never the corpus-sized index) and an append
      lands new files only in its batch's buckets;
    * ``banded/`` — (doc_id, sz, band, bucket) hive-PARTITIONED BY
      ``bpart = pmod(bucket, k_band_parts)`` and sorted by (band,
      bucket) within files: the LOOKUP-side projection (the dedup twin
      of the ANN tier's l34 move). An ingest batch
      computes its own bucket set (bounded: ≤ |batch|·bands values)
      and ``minhash_dedup_against_index_persisted`` reads ONLY those
      buckets' partition directories — per-batch index bytes scale
      with the batch's bucket footprint, never the corpus — with exact
      bucket-size stats computed over the same pruned read (every
      member of a (band, bucket) lives in one bpart partition, so
      pruned counts ARE the true counts). A SINGLE partition level is
      deliberate: partitioning by (band, bpart) would multiply the
      directory count by ``bands`` for identical touched bytes, and at
      bench scale the extra listing/footer overhead dominated the data
      read (profiled) — one level keeps directories few and large
      while the in-file (band, bucket) sort preserves row-group
      skipping;
    * ``meta/`` — the signature parameters (bands, rows_per_band,
      seed, n_buckets, k_band_parts). ``add_to_dedup_index`` signs new
      batches with the PERSISTED parameters — a mismatched caller
      cannot silently corrupt the tier — and query helpers read them
      the same way.

    Partitioning fingerprints/ on an id hash (not on band buckets) is
    deliberate: it is the VERIFY input, read per batch only for the
    candidates' id-hash buckets, while deletes and idempotency checks
    are id-keyed point operations. The banded projection carries the
    blocking side so neither consumer scans the whole tier.

    PARTITION-COUNT SIZING (the flat-per-batch contract): a fixed-size
    ingest batch touches ≤ |batch|·bands banded cells and ≤ |candidates|
    fingerprint buckets, so per-batch bytes stay O(batch) only while
    those sets are SMALL relative to the directory counts — with static
    counts a growing corpus eventually puts the whole index behind
    every batch's directories again. ``n_buckets=None`` /
    ``k_band_parts=None`` (the defaults) therefore auto-size from the
    index row count at ~2,000 fingerprint rows per id-hash bucket and
    ~1,000 docs per (band, bpart) cell (clamped to [16, 65536] /
    [8, 8192]): directory counts grow WITH the corpus, so a fixed
    batch's touched fraction shrinks as the corpus grows (the
    acceptance curve tools/dedup_index_stress.py records). Pass
    explicit counts to pin a layout instead. Sizing targets ~500
    fingerprint rows per id-hash bucket and ~1000 docs (·bands banded
    rows, ~150 KB) per bpart directory, clamped so directory counts
    never reach small-files territory; per-dir bytes then stay
    CONSTANT as the corpus grows, so a batch's banded read is capped
    at ~|batch|·bands·150 KB at ANY corpus size (the verify side is
    flat in |candidates| the same way) — versus the full-scan operator's
    unbounded O(corpus) re-band per batch.

    The caller-asserted signature parameters are VALIDATED against the
    index frame before anything is written: one sampled
    row must carry a sig of length bands·rows_per_band AND re-signing
    that row's htok with the claimed seed must reproduce its sig
    bitwise — otherwise meta/ would lie and ``add_to_dedup_index``
    would sign batches with mismatched parameters, exactly the silent
    corruption the meta tier exists to prevent."""
    spark = index.sparkSession
    # the index frame is consumed up to three times below (sizing count,
    # fingerprint write, banded write) and its lineage usually holds the
    # MinHash kernel — pin it once so signatures are computed once
    index = index.localCheckpoint(eager=False)
    # counted unconditionally: n_rows seeds the advisory stats/ the
    # adaptive lookup routing consumes, not just the auto-sizing
    n_rows = index.count()
    n_buckets, k_band_parts = auto_parts(n_rows, n_buckets, k_band_parts)
    sample = index.select("doc_id", "htok", "sig").limit(1).collect()
    if sample:
        r = sample[0]
        if len(r["sig"]) != bands * rows_per_band:
            raise ValueError(
                f"persist_dedup_index: index sig length {len(r['sig'])} != "
                f"bands*rows_per_band = {bands}*{rows_per_band} — the index "
                "was built with different banding than the caller asserts; "
                "refusing to persist lying meta"
            )
        one = spark.createDataFrame(
            [(int(r["doc_id"]), [int(h) for h in r["htok"]])],
            schema="doc_id long, htok array<bigint>",
        )
        resig = _signatures_from_hashed(
            one, num_hashes=bands * rows_per_band, seed=seed
        ).first()["sig"]
        if list(resig) != list(r["sig"]):
            raise ValueError(
                f"persist_dedup_index: re-signing a sampled doc with "
                f"seed={seed} does not reproduce its stored sig — the index "
                "was built with a different seed than the caller asserts; "
                "refusing to persist lying meta"
            )
    rows = index.select(
        "doc_id", "htok", "sig", hash_part(n_buckets, "doc_id").alias("part")
    )
    _DEDUP.ids.write(rows, path, "overwrite")
    _DEDUP.lookup.write(
        _banded_projection(index, bands, rows_per_band, k_band_parts), path, "overwrite"
    )
    _write_index_stats(spark, path, n_rows)
    write_meta(
        spark,
        path,
        bands=int(bands),
        rows_per_band=int(rows_per_band),
        seed=int(seed),
        n_buckets=int(n_buckets),
        k_band_parts=int(k_band_parts),
        layout_version=2,
    )


def _banded_projection(
    index: DataFrame, bands: int, rows_per_band: int, k_band_parts: int
) -> DataFrame:
    """The lookup-side rows of the persisted tier: one (doc_id, sz,
    band, bucket, bpart) row per (doc, band). ``sz`` (the token-set
    size) rides along so the size-prune filter runs before any verify
    read; ``bpart = pmod(bucket, k_band_parts)`` is the single hive
    partition key (band stays a data column — see persist_dedup_index
    on why one level beats two here)."""
    b = _banded_buckets(index, "doc_id", bands, rows_per_band)
    return b.select(
        "doc_id",
        F.col("_sz_doc_id").alias("sz"),
        "band",
        "bucket",
        F.pmod(F.col("bucket").cast("long"), F.lit(k_band_parts))
        .cast("int")
        .alias("bpart"),
    )


def read_dedup_index_meta(spark: SparkSession, path: str) -> dict:
    """Signature parameters persisted with the fingerprint tier, cached
    per process. Tiers persisted before the banded projection existed
    (layout_version 1) have no k_band_parts: None signals consumers to
    take the full-index path."""
    return read_meta(
        spark,
        path,
        "persist_dedup_index",
        {
            **dict.fromkeys(("bands", "rows_per_band", "seed", "n_buckets"), int),
            "k_band_parts": lambda v: None if v is None else int(v),
            "layout_version": int,
        },
    )


def _lookup_projection(meta: dict):
    """The tier's id-side → banded projection, or None on a layout
    without banded/."""
    if meta["k_band_parts"] is None:
        return None
    return partial(
        _banded_projection,
        bands=meta["bands"],
        rows_per_band=meta["rows_per_band"],
        k_band_parts=meta["k_band_parts"],
    )


def load_dedup_index(spark: SparkSession, path: str) -> DataFrame:
    """Reload the fingerprint rows in the exact shape
    ``minhash_dedup_against_index`` consumes (doc_id, htok, sig)."""
    return _DEDUP.ids.read(spark, path).select("doc_id", "htok", "sig")


@leased("path")
def add_to_dedup_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    check_existing: bool = True,
    presigned: DataFrame | None = None,
) -> None:
    """Incremental ingest into the persisted fingerprint tier: sign the
    batch with the index's OWN persisted parameters (meta/ — never the
    caller's) and append the new rows to their id-hash buckets AND to
    the banded lookup projection's (band, bpart) partitions. Idempotent
    retry by default: each dataset anti-joins the batch against its own
    existing ids, both reads pruned to the batch's own partition
    directories, so a re-run after a crash between the two appends
    appends nothing twice to either (banded/ is written FIRST — the
    worst mid-crash state is orphaned banded rows, which the verify
    join neutralizes, never a fingerprinted doc invisible to lookups).
    Per-batch cost is the batch's signing + two partition-local appends
    — the corpus is never re-signed (the D8 contract).

    ``presigned``: an existing ``build_dedup_index`` output
    (doc_id, htok, sig) covering a SUPERSET of ``new_docs``'s ids,
    built with the tier's persisted parameters. When given, the batch
    is taken as ``presigned`` semi-joined to ``new_docs``'s ids instead
    of re-tokenizing and re-signing — the ingest-gate flow signs its
    batch once for the cross-batch check and reuses the same frame
    here. Signatures are deterministic in (text, bands, rows_per_band,
    seed), so the appended rows are identical either way; a one-row
    probe validates the signature length against meta/ so a frame
    signed with foreign parameters fails loudly instead of corrupting
    the tier."""
    meta = read_dedup_index_meta(spark, path)
    if presigned is not None:
        accept_presigned(presigned, "minhash", meta, "add_to_dedup_index")
        signed = presigned.join(
            new_docs.select("doc_id"), "doc_id", "leftsemi"
        )
    else:
        signed = build_dedup_index(
            new_docs,
            bands=meta["bands"],
            rows_per_band=meta["rows_per_band"],
            seed=meta["seed"],
            text_col=text_col,
        )
    add_rows(
        spark,
        path,
        _DEDUP,
        signed.select("doc_id", "htok", "sig"),
        meta["n_buckets"],
        _lookup_projection(meta),
        check_existing,
    )


@leased("path")
def delete_from_dedup_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "doc_id",
) -> None:
    """Remove documents from the persisted fingerprint tier
    (retention / right-to-be-forgotten on the dedup side — the l36
    analogue): anti-join + dynamic
    partition overwrite of ONLY the partitions that held deleted rows,
    in BOTH datasets — the id-hash buckets of fingerprints/ and the
    (band, bpart) directories of the banded projection. The banded
    side's touched-partition list comes from re-banding just the DOOMED
    docs (read from fingerprints pruned to the deleted ids' id-hash
    buckets, BEFORE those buckets are rewritten), so the delete cost is
    O(deleted docs' partition footprint), never an index scan.

    Crash contract (the lookup-first rule of ``sources/tiers.py``):
    banded/ is rewritten FIRST, then fingerprints/; re-running the same
    delete converges, and a crash after only the banded rewrite merely
    hides the doomed docs from pruned lookups until the retry finishes.
    Deleted documents generate no candidates in any subsequent
    against-index pass — gone from both the banding and the verify
    side."""
    meta = read_dedup_index_meta(spark, path)
    delete_rows(
        spark, path, _DEDUP, ids, id_col, meta["n_buckets"], _lookup_projection(meta)
    )


@leased("path")
def compact_dedup_index(
    spark: SparkSession, path: str, max_files_per_partition: int = 4
) -> int:
    """Fold append-accumulated small files in BOTH persisted dedup
    datasets — the fingerprint tier's id-hash buckets and (on v2
    layouts) the banded projection's bpart directories (see
    ``sources.tiers.Dataset.compact``). Returns the total
    number of partitions compacted across the two."""
    n = 0
    if read_dedup_index_meta(spark, path)["k_band_parts"] is not None:
        n = _DEDUP.lookup.compact(spark, path, max_files_per_partition)
    return n + _DEDUP.ids.compact(spark, path, max_files_per_partition)


def _banded_buckets(index: DataFrame, id_alias: str, bands: int, rows_per_band: int) -> DataFrame:
    band_cols = [
        F.hash(F.slice("sig", i * rows_per_band + 1, rows_per_band)).alias(f"b{i}")
        for i in range(bands)
    ]
    return index.select(
        F.col("doc_id").alias(id_alias),
        F.size("htok").alias(f"_sz_{id_alias}"),
        F.posexplode(F.array(*band_cols)).alias("band", "bucket"),
    )


def minhash_dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    threshold: float = 0.95,
    bands: int = 24,
    rows_per_band: int = 8,
    seed: int = MINHASH_SEED,
    text_col: str = "text",
    max_bucket_size: int = MAX_BUCKET_SIZE,
    exclude_same_id: bool = True,
    presigned: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup check: (new_id, index_id, jac ≥ τ) pairs
    between an ingest batch and an existing ``build_dedup_index``
    output — the production shape where yesterday's corpus is never
    re-processed.

    Precondition: new-batch doc_ids are DISJOINT from index doc_ids.
    With the default ``exclude_same_id=True`` a candidate pair whose
    ids are equal is dropped as a self-pair — so a batch that REUSES an
    id already in the index (with different content) would silently
    miss that real near-duplicate. If your id space allows reuse, pass
    ``exclude_same_id=False`` (same-id pairs then verify like any
    other) or re-key the batch before ingest.

    Asymmetric LSH equi-join: both sides band their signatures, the
    join matches on (band, bucket) — so no new×new or index×index
    candidates are ever generated — and candidates verify with the
    exact-Jaccard filter over the stored hashed tokens. The index's
    degenerate buckets (> ``max_bucket_size`` members) are dropped
    before the join, the same skew guard as ``lsh_candidate_pairs``
    (other bands recover recall; at 100 TB you lower the cap and log
    the drops). ``bands``/``rows_per_band``/``seed`` must match the
    values the index was built with.

    ``presigned``: an existing ``build_dedup_index`` output over
    exactly ``new_docs`` with the same parameters — skips the batch's
    tokenize+sign pass (validated by the persisted-tier caller; direct
    callers own the parameter match, as they already do for ``index``).
    """
    new_index = (
        presigned
        if presigned is not None
        else build_dedup_index(
            new_docs,
            bands=bands,
            rows_per_band=rows_per_band,
            seed=seed,
            text_col=text_col,
        ).localCheckpoint(eager=False)
    )
    return _against_index_full_scan(
        new_index, index, threshold, bands, rows_per_band, max_bucket_size,
        exclude_same_id,
    )


def _against_index_full_scan(
    new_index: DataFrame,
    index: DataFrame,
    threshold: float,
    bands: int,
    rows_per_band: int,
    max_bucket_size: int,
    exclude_same_id: bool,
) -> DataFrame:
    """Body of ``minhash_dedup_against_index`` after the batch is
    signed. (Historical note: split out while the r12 router decided
    AFTER signing; the shipped router decides from a plain batch count
    first and routes through the public twin, so this is now purely
    the internal body of its one caller.)"""
    idx_banded = _banded_buckets(index, "index_id", bands, rows_per_band)
    # skew guard on the corpus side, where the mass is
    bucket_sizes = idx_banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("_n")
    )
    idx_banded = (
        idx_banded.join(bucket_sizes, ["band", "bucket"])
        .filter(F.col("_n") <= max_bucket_size)
        .drop("_n")
    )
    new_banded = _banded_buckets(new_index, "new_id", bands, rows_per_band)
    cand = new_banded.join(idx_banded, ["band", "bucket"])
    if exclude_same_id:
        cand = cand.filter(F.col("new_id") != F.col("index_id"))
    cand = (
        cand
        # size prune before the distinct shuffle: jaccard ≤ min/max of
        # the token-set sizes, so ratio-incompatible pairs can't verify
        # (1e-6 slack matches the round-before-filter verify)
        .filter(
            F.least("_sz_new_id", "_sz_index_id")
            >= F.lit(threshold - 1e-6) * F.greatest("_sz_new_id", "_sz_index_id")
        )
        .select("new_id", "index_id")
        .distinct()
    )
    joined = cand.join(
        new_index.select(F.col("doc_id").alias("new_id"), F.col("htok").alias("tok1")),
        "new_id",
    ).join(
        index.select(F.col("doc_id").alias("index_id"), F.col("htok").alias("tok2")),
        "index_id",
    )
    return _jaccard_score_filter(joined, threshold, round_before_filter=True).select(
        "new_id", "index_id", "jac"
    )


# Adaptive routing crossover for the persisted dedup tier: the stress
# sweep (tools/dedup_index_stress.py, BASELINE.md) measured
# the pruned lookup overtaking the full scan at a 512k-doc corpus for a
# 200-doc × 16-band batch (3,200 banded cells) — pruned 12.3 s vs full
# 13.1 s, with full ahead at 32k/128k where fixed driver-job overhead
# dominates. 512k / 3,200 = 160 corpus rows per batch cell.
_DEDUP_ROUTE_CELLS_FACTOR = 160


def minhash_dedup_against_index_persisted(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    threshold: float = 0.95,
    text_col: str = "text",
    max_bucket_size: int = MAX_BUCKET_SIZE,
    exclude_same_id: bool = True,
    route: str = "auto",
    presigned: DataFrame | None = None,
) -> DataFrame:
    """``minhash_dedup_against_index`` against a PERSISTED tier, with
    per-batch cost O(batch's bucket footprint) instead of O(index) —
    fixed the way l34 fixed the ANN tier:

    1. the batch signs itself with the persisted parameters and bands
       into its own (band, bucket) set — bounded at ≤ |batch|·bands;
    2. the BANDED projection is read pruned to the batch's bpart
       partition directories (PartitionFilters — index bytes read
       scale with the batch's bucket footprint, never the corpus), and
       the skew-guard bucket sizes are computed over that same pruned
       read: every member of a (band, bucket) lives in one bpart
       partition, so the pruned counts are EXACT, maintained
       implicitly by the add/delete paths instead of recomputed
       index-wide;
    3. candidates equi-join on (band, bucket), size-prune, and verify
       against fingerprints/ read pruned to the candidates' id-hash
       buckets (≤ n_buckets directories, a meta-bounded list).

    The driver-side collects are bpart values (≤ k_band_parts ints)
    and candidate id-hash buckets (≤ n_buckets ints) — nothing scales
    with the corpus. Answers are identical to the full-scan operator
    under the same parameters (pinned by the twin pytest); layouts
    without a banded projection fall back to the full path so
    old tiers keep answering.

    Same precondition as the full-scan operator: batch doc_ids should
    be disjoint from index doc_ids unless ``exclude_same_id=False``.

    ``route``: ``"auto"`` (default) picks pruned vs full scan
    from the tier's advisory row count (stats/, maintained by
    persist/add/delete) against the batch's banded-cell footprint —
    below ``_DEDUP_ROUTE_CELLS_FACTOR`` · |batch|·bands the pruned
    path's ~6 fixed driver jobs cost more than scanning the whole
    (still-small) index, a measured small-scale regression. Both sides
    are answer-identical (twin pytest), so routing is pure performance;
    unknown stats (a tier without stats/, crashed stats rewrite) routes
    pruned — the scale-safe side.
    ``"pruned"`` / ``"full"`` force a side (stress tools, tests).

    ``presigned``: an existing ``build_dedup_index`` output
    (doc_id, htok, sig) over EXACTLY ``new_docs``, built with the
    tier's persisted parameters — the caller manages its
    materialization. When given, the batch is never re-tokenized or
    re-signed (the ingest gate signs its batch once and shares the
    frame with ``add_to_dedup_index``); a one-row probe validates the
    signature length against meta/ so foreign-parameter frames fail
    loudly. Answers are identical either way (deterministic
    signatures)."""
    if route not in ("auto", "pruned", "full"):
        raise ValueError(f"route must be auto|pruned|full, got {route!r}")
    meta = read_dedup_index_meta(spark, path)
    if presigned is not None:
        accept_presigned(
            presigned, "minhash", meta, "minhash_dedup_against_index_persisted"
        )
    if meta["k_band_parts"] is None:
        return minhash_dedup_against_index(
            new_docs,
            load_dedup_index(spark, path),
            threshold=threshold,
            bands=meta["bands"],
            rows_per_band=meta["rows_per_band"],
            seed=meta["seed"],
            text_col=text_col,
            max_bucket_size=max_bucket_size,
            exclude_same_id=exclude_same_id,
            presigned=presigned,
        )
    bands, rpb = meta["bands"], meta["rows_per_band"]
    new_docs = new_docs.localCheckpoint(eager=False)
    # decided BEFORE signing: the decision needs only |batch| (a count
    # over the checkpointed batch — no MinHash kernel), so a full-scan
    # route skips the banded-footprint job entirely and lands at the bare
    # full twin's wall
    if not route_pruned(
        spark, path, route,
        lambda: _DEDUP_ROUTE_CELLS_FACTOR * new_docs.count() * bands,
    ):
        return minhash_dedup_against_index(
            new_docs,
            load_dedup_index(spark, path),
            threshold=threshold,
            bands=bands,
            rows_per_band=rpb,
            seed=meta["seed"],
            text_col=text_col,
            max_bucket_size=max_bucket_size,
            exclude_same_id=exclude_same_id,
            presigned=presigned,
        )
    new_index = (
        presigned
        if presigned is not None
        else build_dedup_index(
            new_docs,
            bands=bands,
            rows_per_band=rpb,
            seed=meta["seed"],
            text_col=text_col,
        ).localCheckpoint(eager=False)
    )
    new_banded = _banded_projection(
        new_index, bands, rpb, meta["k_band_parts"]
    ).localCheckpoint(eager=False)
    # ONE footprint job: materializes the banded projection and returns
    # the pruned read's directory set
    bparts = _DEDUP.lookup.parts_of(new_banded)
    # exact skew guard over the pruned read (step 2 above)
    idx_banded = _DEDUP.lookup.read_guarded(
        spark, path, bparts, max_bucket_size
    ).select(
        F.col("doc_id").alias("index_id"),
        F.col("sz").alias("_sz_index_id"),
        "band",
        "bucket",
    )
    cand = new_banded.select(
        F.col("doc_id").alias("new_id"),
        F.col("sz").alias("_sz_new_id"),
        "band",
        "bucket",
    ).join(idx_banded, ["band", "bucket"])
    if exclude_same_id:
        cand = cand.filter(F.col("new_id") != F.col("index_id"))
    cand = (
        cand.filter(
            F.least("_sz_new_id", "_sz_index_id")
            >= F.lit(threshold - 1e-6) * F.greatest("_sz_new_id", "_sz_index_id")
        )
        .select("new_id", "index_id")
        .distinct()
        # the candidate set is consumed twice (id-bucket collect below +
        # verify join) — lazily pinned so the banded join runs once,
        # materialized BY the cparts collect (one job, not an eager
        # checkpoint and then a separate collect)
        .localCheckpoint(eager=False)
    )
    cparts = _DEDUP.ids.parts_of(
        cand.select(hash_part(meta["n_buckets"], "index_id").alias("part"))
    )
    fp = _DEDUP.ids.read(spark, path, cparts).select(
        F.col("doc_id").alias("index_id"), F.col("htok").alias("tok2")
    )
    joined = cand.join(
        new_index.select(F.col("doc_id").alias("new_id"), F.col("htok").alias("tok1")),
        "new_id",
    ).join(fp, "index_id")
    return _jaccard_score_filter(joined, threshold, round_before_filter=True).select(
        "new_id", "index_id", "jac"
    )


def segment_dedup(
    docs: DataFrame,
    seg_words: int = 10,
    max_df: int = 2,
    text_col: str = "text",
    broadcast_dropset: bool = False,
) -> DataFrame:
    """CCNet-style line-level dedup generalized to fixed word-window
    segments (this corpus has no newlines; with newline-delimited text,
    split on newlines instead — the mechanism is identical): cut each
    document into consecutive ``seg_words``-word segments, drop every
    segment whose corpus-wide document frequency exceeds ``max_df``
    (boilerplate: headers, navigation, license blocks — the mass
    duplication that survives doc-level dedup), and reassemble each
    document from its kept segments in order.

    Returns one row per input document — (doc_id, n_segments,
    n_dropped, cleaned) — including token-less documents, which come
    back as (doc_id, 0, 0, ''). ``cleaned`` is '' when everything was
    boilerplate.

    The 100 TB shape: the explode emits (doc_id, seg_idx, 8-byte
    segment hash) — document text stays columnar until reassembly; the
    frequency pass is one hash aggregate over digests; reassembly is a
    per-doc sort of its own bounded segment list, not a global sort.
    The drop-set (segments with df > ``max_df``) is NOT assumed small:
    heavy-tailed boilerplate bounds the top of the df distribution,
    not the count of segments above a df of 2 — on a natural web-scale
    corpus that count is in the billions, so by default the anti-join
    strategy is left to Catalyst/AQE (which promotes to broadcast at
    runtime only when the measured build side fits). Pass
    ``broadcast_dropset=True`` only when the caller can bound the
    drop-set (e.g. a high ``max_df`` boilerplate-only pass).
    """
    toks = F.expr(f"filter(split({text_col}, ' '), x -> x != '')")
    segs = F.expr(
        f"transform(sequence(1, greatest(size(_toks), 1), {seg_words}),"
        f" i -> concat_ws(' ', slice(_toks, i, {seg_words})))"
    )
    from actuarial_reserve_modelling_spark.operators import spread_for_kernel

    # segment expansion + hashing amplifies CPU well past the scanned
    # bytes and the frequency/kept/totals branches re-run this map —
    # spread the (projected) rows adaptively so it is not single-task
    # on a one-split corpus (no-op once the scan has enough splits)
    exploded = (
        spread_for_kernel(docs.select("doc_id", toks.alias("_toks")),
                          bytes_per_task=65536)
        .select("doc_id", F.posexplode(segs).alias("seg_idx", "seg_text"))
        .filter(F.col("seg_text") != "")
    )
    with_hash = exploded.select(
        "doc_id", "seg_idx", "seg_text", F.xxhash64("seg_text").alias("_h")
    )
    frequent = (
        with_hash.groupBy("_h")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("_h")
    )
    kept = with_hash.join(_opt_broadcast(frequent, broadcast_dropset), "_h", "left_anti")
    kept_per_doc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg_text"))),
                lambda s: s["seg_text"],
            ),
            " ",
        ).alias("cleaned"),
    )
    totals = with_hash.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_segments")
    )
    # left-join from the full doc_id set so token-less documents
    # (empty/whitespace-only text emits zero segments) still return a
    # (doc_id, 0, 0, '') row — downstream reassembly must not silently
    # lose doc_ids.
    return (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(kept_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segments", F.lit(0)).cast("int").alias("n_segments"),
            (F.coalesce("n_segments", F.lit(0)) - F.coalesce("_n_kept", F.lit(0)))
            .cast("int")
            .alias("n_dropped"),
            F.coalesce("cleaned", F.lit("")).alias("cleaned"),
        )
    )


def repeated_span_removal(
    docs: DataFrame,
    span_words: int = 20,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr-style repeated-substring removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499) at word-window granularity: every OVERLAPPING
    ``span_words``-word window whose total corpus occurrence count
    (including within-document repeats) reaches ``min_count`` marks its
    token range as duplicated; overlapping marked ranges merge into
    maximal spans (gaps-and-islands), and the document is rebuilt from
    the tokens outside every span. The overlapping windows + interval
    merge are what distinguish this from ``segment_dedup``'s disjoint
    segments: a repeated passage is excised exactly, wherever it starts,
    instead of at fixed segment boundaries — the suffix-array
    formulation's effect, reachable with hash aggregates.

    Returns one row per input document: (doc_id, n_tokens, n_spans,
    n_masked, cleaned) — token-less and shorter-than-window documents
    come back with 0 spans and their text's tokens intact.

    The 100 TB shape: windows cross the wire as (doc_id, position,
    8-byte xxhash64) — text stays columnar; the occurrence count is one
    digest aggregate; the repeated-window set anti-join is AQE-decided
    (same unbounded-drop-set argument as ``segment_dedup``); interval
    merging is two bounded per-document windows (running max + island
    sum), never a global sort; and reassembly is a per-doc array
    expression over the doc's own bounded span list.
    """
    toks = F.expr(f"filter(split({text_col}, ' '), x -> x != '')")
    # overlapping windows, 1-based start positions (matches DuckDB list
    # indexing in the oracle); guarded — sequence(1, n) DESCENDS for
    # n < 1, so short docs must produce an empty window array
    wins = F.expr(
        f"case when size(_t) >= {span_words} then"
        f" transform(sequence(1, size(_t) - {span_words} + 1),"
        f" i -> struct(i as s, concat_ws(' ', slice(_t, i, {span_words})) as w))"
        " else cast(array() as array<struct<s:int,w:string>>) end"
    )
    from actuarial_reserve_modelling_spark.operators import spread_for_kernel

    # overlapping windows emit ~n_words rows per doc — same adaptive
    # spread rationale as segment_dedup (the pos subtree runs twice)
    base = spread_for_kernel(
        docs.select("doc_id", toks.alias("_t")), bytes_per_task=65536
    )
    pos = (
        base.select("doc_id", F.explode(wins).alias("p"))
        .select("doc_id", F.col("p.s").alias("s"), F.xxhash64("p.w").alias("_h"))
    )
    repeated = (
        pos.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("_h")
    )
    marked = pos.join(repeated, "_h", "left_semi").select(
        "doc_id", "s", (F.col("s") + span_words).alias("e")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = marked.withColumn("_pm", F.max("e").over(w_prev)).withColumn(
        "_isl",
        F.sum(
            F.when(F.col("_pm").isNull() | (F.col("s") > F.col("_pm")), 1).otherwise(0)
        ).over(w_run),
    )
    spans = (
        islands.groupBy("doc_id", "_isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_spans"),
            F.sum(F.col("e") - F.col("s")).cast("int").alias("n_masked"),
            F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_spans"),
        )
    )
    # kept tokens: 1-based position outside every [s, e) span; the span
    # list is per-doc and bounded, so the exists() probe is a local
    # array expression, not a join
    cleaned = F.expr(
        "concat_ws(' ', transform(filter(transform(_t,"
        " (x, i) -> struct(x as x, i + 1 as i)),"
        " t -> _spans is null or not exists(_spans, sp -> t.i >= sp.s and t.i < sp.e)),"
        " t -> t.x))"
    )
    return (
        base.join(spans, "doc_id", "left")
        .select(
            "doc_id",
            F.size("_t").cast("int").alias("n_tokens"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_masked", F.lit(0)).alias("n_masked"),
            cleaned.alias("cleaned"),
        )
    )
