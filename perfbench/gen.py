"""Seeded input generators. The same seed gives byte-identical inputs.

Every generator writes parquet with pyarrow (the writer the repository's
test data was produced with) and returns what the correctness checks need
to know about it. Numeric columns of the relational tables sit on a dyadic
grid (multiples of 1/4, discounts of k/64), so every sum the analyst
queries take is exact in double precision whatever the summation order,
and Spark and DuckDB cannot disagree through float reassociation.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 31 words, the vocabulary size of the repository's documents table: token
# sets of 6-31 words over it overlap heavily ("similarity-saturated").
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window zone"
).split()

# Near-duplicate margin: no pair of distinct token sets may have a Jaccard
# within 0.01 of the 0.95 threshold. With at most 31 tokens, the
# only pairs that come close differ by exactly one token, where
# J = (n - 1) / n for the larger set size n. n in 17..24 gives
# J in [0.941, 0.959]; those pairs are never generated.
_HAIR_SIZES = range(17, 25)
_MIN_SIZE, _MAX_SIZE = 6, 31


def _write(path: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), path)


def portfolio(out_dir: str, seed: int, n_policies: int, name: str = "policies") -> np.ndarray:
    """Policy portfolio in the shape of ``catalog.synthetic_portfolio``:
    string ids, terms of 1-30 whole years in days. Written as
    ``<name>.parquet``; returns the terms for the analytic check."""
    rng = np.random.default_rng([seed, 1])
    ids = [f"P{seed}-{i:07d}" for i in range(n_policies)]
    terms = rng.integers(1, 31, n_policies).astype("float64") * 365.0
    _write(
        os.path.join(out_dir, f"{name}.parquet"),
        {"id": pa.array(ids, pa.string()), "term": pa.array(terms, pa.float64())},
    )
    return terms


def _quarters(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 4), int(hi * 4) + 1, n) / 4.0


def _timestamps(rng, start: str, span_us: int, n: int, unique: bool = False) -> pa.Array:
    base = np.datetime64(start, "us").astype("int64")
    us = rng.integers(0, span_us, n + (n // 100 + 16 if unique else 0))
    if unique:
        us = np.unique(us)
        while len(us) < n:
            us = np.unique(np.concatenate([us, rng.integers(0, span_us, n)]))
        us = rng.permutation(us)[:n]
    return pa.array(base + us, pa.timestamp("us"))


def star_tables(out_dir: str, seed: int, scale: float) -> None:
    """The tables the analyst queries read (customer, nation, orders,
    lineitem, events) with the repository test data's column names, types
    and row counts per scale factor (sf0.1: 15k customers, 150k orders,
    600k line items, 100k events)."""
    rng = np.random.default_rng([seed, 2])
    n_cust = int(150_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    day_us = 86_400 * 10**6

    _write(
        os.path.join(out_dir, "nation.parquet"),
        {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i:02d}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
        },
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(
        os.path.join(out_dir, "customer.parquet"),
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(_quarters(rng, -999.75, 9999.75, n_cust)),
            "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)]),
        },
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(
        os.path.join(out_dir, "orders.parquet"),
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_quarters(rng, 900.0, 450_000.0, n_ord)),
            "o_orderdate": _timestamps(rng, "1995-01-01", 2400 * day_us, n_ord),
            "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)]),
        },
    )
    shipdays = rng.integers(0, 2500, n_li)
    _write(
        os.path.join(out_dir, "lineitem.parquet"),
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, max(1, n_cust // 10 * 13), n_li)),
            "l_suppkey": pa.array(rng.integers(0, max(1, n_cust // 15), n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
            "l_extendedprice": pa.array(_quarters(rng, 900.0, 100_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 7, n_li) / 64.0),
            "l_tax": pa.array(rng.integers(0, 6, n_li) / 64.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(
                np.datetime64("1995-01-02", "us").astype("int64") + shipdays * day_us,
                pa.timestamp("us"),
            ),
        },
    )
    kinds = np.array(["signup", "click", "error", "view", "purchase"])
    _write(
        os.path.join(out_dir, "events.parquet"),
        {
            "event_id": pa.array(np.arange(n_ev, dtype="int64")),
            # unique timestamps: the as-of join then has no ties to break
            "ts": _timestamps(rng, "2024-01-01", 30 * day_us, n_ev, unique=True),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev)),
            "event_type": pa.array(kinds[rng.integers(0, 5, n_ev)]),
            "value": pa.array(_quarters(rng, 0.0, 500.0, n_ev)),
            "props": pa.array([None] * n_ev, pa.string()),
        },
    )


def _random_mask(rng) -> int:
    size = int(rng.integers(_MIN_SIZE, _MAX_SIZE + 1))
    return int(sum(1 << int(b) for b in rng.choice(31, size, replace=False)))


def _near_mask(rng, mask: int) -> int:
    """A set at symmetric difference 1 from ``mask`` whose larger side has
    at least 25 tokens (J >= 0.96), or the same set when that is impossible."""
    size = mask.bit_count()
    members = [b for b in range(31) if mask >> b & 1]
    others = [b for b in range(31) if not mask >> b & 1]
    if size >= 25 and (not others or rng.random() < 0.5):
        return mask & ~(1 << int(rng.choice(members)))
    if size >= 24 and others:
        return mask | (1 << int(rng.choice(others)))
    return mask


def _text(rng, mask: int) -> str:
    """Words of ``mask`` in random order, some repeated: the token set is
    the mask, the text (and so the exact fingerprint) varies."""
    words = [VOCAB[b] for b in range(31) if mask >> b & 1]
    extra = rng.integers(0, len(words) + 1)
    seq = words + [words[i] for i in rng.integers(0, len(words), extra)]
    return " ".join(seq[i] for i in rng.permutation(len(seq)))


def _close(mask: int, index: dict[int, int]) -> list[int]:
    """Indexed sets at symmetric difference 0 or 1 from ``mask``."""
    return [m for m in (mask, *(mask ^ (1 << b) for b in range(31))) if m in index]


def corpus(
    seed: int, n_batches: int, batch_size: int, exact_share: float, near_share: float
) -> tuple[list[int], list[str]]:
    """Documents ``(doc_id, text)`` in arrival order, ``batch_size`` per
    batch, with the same duplicate structure in every batch.

    In every batch, ``exact_share`` of the documents are exact duplicates
    of an earlier document (the same text, sometimes with a doubled space,
    which the fingerprint normalises away) and ``near_share`` are near
    duplicates (the same token set in another order, or one token added or
    removed on a set of 24+ tokens): half of a fresh document of the same
    batch, half of a fresh document of an earlier batch (all of the same
    batch in batch 0). Each fresh document is the source of at most one
    near duplicate, so the within-batch near-duplicate graph is a set of
    disjoint pairs in every batch and the gate's clustering does the same
    work each time. The rest are fresh random sets, drawn again until no
    earlier set is within one token of them, so every near-duplicate pair
    is a planted one and no pair of distinct sets has a Jaccard within the
    hair of the threshold. Doc ids are a seeded permutation, so id order is
    not arrival order.
    """
    rng = np.random.default_rng([seed, 3])
    n_exact, n_near = round(exact_share * batch_size), round(near_share * batch_size)
    texts: list[str] = []
    masks: list[int] = []
    index: dict[int, int] = {}
    unused: list[int] = []  # fresh documents of earlier batches, not yet a source

    def add(mask: int) -> None:
        index.setdefault(mask, len(masks))
        texts.append(_text(rng, mask))
        masks.append(mask)

    def near_of(pool: list[int]) -> None:
        while True:
            mask = _near_mask(rng, masks[pool.pop(int(rng.integers(0, len(pool))))])
            if not any(m != mask and max(m.bit_count(), mask.bit_count()) in _HAIR_SIZES
                       for m in _close(mask, index)):
                return add(mask)

    for b in range(n_batches):
        start = len(texts)
        while len(texts) - start < batch_size - n_exact - n_near:
            mask = _random_mask(rng)
            if not _close(mask, index):
                add(mask)
        fresh = list(range(start, len(texts)))
        within = n_near if b == 0 else n_near // 2
        for _ in range(within):
            near_of(fresh)
        for _ in range(n_near - within):
            near_of(unused)
        unused += fresh
        for _ in range(n_exact):
            t = texts[int(rng.integers(0, len(texts)))]
            if rng.random() < 0.5:
                t = t.replace(" ", "  ", 1)
            texts.append(t)
            masks.append(0)  # never read: exact copies are not sources
    n_docs = len(texts)
    ids = rng.permutation(n_docs * 4)[:n_docs].astype("int64").tolist()
    return ids, texts


def write_docs(path: str, ids: list[int], texts: list[str], batches: list[int]) -> None:
    _write(path, {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string()),
                  "batch": pa.array(batches, pa.int32())})
