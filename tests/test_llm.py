"""LLM-pipeline operator behavior beyond the SQL oracle: ANN recall,
winnowing robustness, LSH blocking integrity."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from actuarial_reserve_modelling_spark.catalog import load_table
from actuarial_reserve_modelling_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    winnowing_fingerprints,
)
from actuarial_reserve_modelling_spark.operators.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    cosine_topk,
)

from .conftest import SF_SMOKE


def _unstamped(frame):
    """``frame`` with the params-hash dropped from its ``sig`` column's
    metadata, like a hand-built presigned frame: only the accept sites'
    structural probes can reject it."""
    return frame.withColumn("sig", F.col("sig").cast(frame.schema["sig"].dataType))


def test_ann_recall_vs_exact(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_lsh_topk(emb, queries, k=5, num_planes=4, num_tables=16).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"ANN recall {recall:.2f} too low"


def test_ivf_recall_vs_exact_and_determinism(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    # near-uniform vectors: IVF recall ~ probed fraction, so 8/16
    # lists probed bounds recall ~0.85+; the content-hash sampled init
    # removes the id-locality bias that made a 6/16 probe look better
    # than the uniform-corpus baseline justifies
    res1 = ann_ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=8)
    rows1 = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in res1.collect()}
    approx = {(q, n) for q, n, _ in rows1}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF recall {recall:.2f} too low"
    # training + assignment are deterministic: identical output twice
    rows2 = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ann_ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=8).collect()
    }
    assert rows1 == rows2


def test_pq_recall_vs_exact_and_determinism(spark):
    from actuarial_reserve_modelling_spark.operators.similarity import ann_pq_topk

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    res1 = ann_pq_topk(emb, queries, k=5, m_subspaces=8, n_codes=16, rerank=8)
    rows1 = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in res1.collect()}
    approx = {(q, n) for q, n, _ in rows1}
    # measured 0.74 on these UNIFORM random vectors — the worst case for
    # PQ (quantization error is maximal without cluster structure); real
    # clustered embeddings recall far higher at the same code budget
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"PQ recall {recall:.2f} too low"
    # quantizer + encoding + ADC are deterministic: identical output twice
    rows2 = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ann_pq_topk(
            emb, queries, k=5, m_subspaces=8, n_codes=16, rerank=8
        ).collect()
    }
    assert rows1 == rows2


def test_minhash_signature_estimates_jaccard(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f g h"),
            Row(doc_id=2, text="a b c d e f g z"),  # jac = 7/9 ≈ 0.78
            Row(doc_id=3, text="q r s t u v w x"),  # jac = 0 vs 1
        ]
    )
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs, num_hashes=256).collect()}
    est_12 = sum(a == b for a, b in zip(sigs[1], sigs[2])) / 256
    est_13 = sum(a == b for a, b in zip(sigs[1], sigs[3])) / 256
    assert abs(est_12 - 7 / 9) < 0.15
    assert est_13 < 0.1


def test_lsh_candidates_contain_near_identical_pair(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma delta epsilon zeta") for i in (1, 2)]
        + [Row(doc_id=3, text="one two three four five six")]
    )
    sigs = minhash_signatures(docs, num_hashes=192)
    cands = {(r["d1"], r["d2"]) for r in lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in cands
    assert (1, 3) not in cands and (2, 3) not in cands


def test_winnowing_detects_shared_substring(spark):
    shared = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=shared + " unique tail one"),
            Row(doc_id=2, text="prefix words here " + shared),
            Row(doc_id=3, text="completely different content with no overlap at all xyz"),
        ]
    )
    fps = winnowing_fingerprints(docs, k=5, window=4)
    by_doc = {
        r["doc_id"]: set(r["fs"])
        for r in fps.groupBy("doc_id").agg(F.collect_set("fp_hash").alias("fs")).collect()
    }
    overlap_12 = len(by_doc[1] & by_doc[2]) / min(len(by_doc[1]), len(by_doc[2]))
    overlap_13 = len(by_doc[1] & by_doc[3]) / min(len(by_doc[1]), len(by_doc[3]))
    assert overlap_12 > 0.5, f"shared-substring overlap too low: {overlap_12:.2f}"
    assert overlap_13 < 0.2, f"unrelated docs overlap too high: {overlap_13:.2f}"


def test_dedup_clusters_components(spark):
    """Min-label propagation finds components: a 4-chain (1-2-3-4), a
    2-clique (10-11), and transitivity across the chain."""
    from actuarial_reserve_modelling_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "d1 long, d2 long"
    )
    got = {r["doc_id"]: r["rep_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_winnowing_deterministic(spark):
    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 20)
    a = sorted(map(tuple, winnowing_fingerprints(docs).collect()))
    b = sorted(map(tuple, winnowing_fingerprints(docs.repartition(7)).collect()))
    assert a == b


def test_multimodal_decode_soft_import():
    """decode_media soft-imports codecs: where PIL/soundfile are absent
    (this container) it raises NotImplementedError; where a codec IS
    importable it must decode. Unknown mime families always raise."""
    from actuarial_reserve_modelling_spark.operators.multimodal import (
        _find_codec,
        decode_media,
    )

    try:
        import PIL  # type: ignore[import-not-found]  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if has_pil:
        assert _find_codec("image/png") is not None
    else:
        with pytest.raises(NotImplementedError):
            decode_media(b"\x00", "image/png")
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00", "application/octet-stream")


def test_bmp_codec_roundtrip_exact():
    """The dependency-free BMP codec is REAL: encode→decode is the
    identity on an asymmetric pixel pattern, which pins row order
    (bottom-up storage flipped back), channel order (BGR→RGB), and
    4-byte row padding (width 3 ⇒ 9-byte rows, 3 pad bytes) — not just
    sums. Malformed and unsupported payloads are refused."""
    import numpy as np

    from actuarial_reserve_modelling_spark.operators.multimodal import (
        _decode_bmp,
        decode_media,
        encode_bmp,
    )

    rng = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3) * 7 % 256
    assert rng.shape == (2, 3, 3)
    decoded = decode_media(encode_bmp(rng.astype(np.uint8)), "image/bmp")
    assert decoded.dtype == np.uint8 and decoded.shape == (2, 3, 3)
    assert np.array_equal(decoded, rng.astype(np.uint8))
    # corner pixel check: [0,0] must come back at [0,0] in RGB order
    px = np.zeros((2, 2, 3), dtype=np.uint8)
    px[0, 0] = (10, 20, 30)
    assert tuple(_decode_bmp(encode_bmp(px))[0, 0]) == (10, 20, 30)
    with pytest.raises(ValueError):
        _decode_bmp(b"XX not a bmp")
    with pytest.raises((NotImplementedError, ValueError)):
        # 24bpp flag but compressed variant refused, not mis-decoded
        bad = bytearray(encode_bmp(px))
        bad[30] = 1  # biCompression = BI_RLE8
        _decode_bmp(bytes(bad))


def test_wav_codec_roundtrip_exact():
    """stdlib-wave codec: int16 samples round-trip exactly through
    encode→decode (decoded floats are sample/32768, an exact dyadic)."""
    import numpy as np

    from actuarial_reserve_modelling_spark.operators.multimodal import (
        decode_media,
        encode_wav,
    )

    samp = np.array([0, 1, -1, 32767, -32768, 12345, -12345], dtype=np.int16)
    decoded = decode_media(encode_wav(samp), "audio/wav")
    assert decoded.ndim == 1 and len(decoded) == len(samp)
    assert np.array_equal((decoded * 32768.0).astype(np.int16), samp)


def test_decode_features_real_codecs(spark):
    """The real decode path runs distributed: BMP and WAV payloads
    built row-by-row decode through decode_features (mapInPandas →
    decode_media) with exact dims and value sums."""
    import numpy as np

    from actuarial_reserve_modelling_spark.operators.multimodal import (
        decode_features,
        encode_bmp,
        encode_wav,
    )

    px = (np.arange(48, dtype=np.uint8) * 5 % 256).reshape(4, 4, 3)
    samp = np.array([100, -200, 300, -400], dtype=np.int16)
    rows = [
        (1, bytes(encode_bmp(px.astype(np.uint8))), {"mime": "image/bmp", "n_bytes": 0}),
        (2, bytes(encode_wav(samp)), {"mime": "audio/wav", "n_bytes": 0}),
    ]
    media = spark.createDataFrame(
        rows,
        "doc_id bigint, payload binary, "
        "meta struct<mime: string, n_bytes: bigint>",
    )
    got = {r["doc_id"]: r.asDict() for r in decode_features(media).collect()}
    assert got[1]["dims"] == [4, 4, 3]
    assert got[1]["n_values"] == 48
    assert got[1]["value_sum"] == float(int(px.astype(np.uint64).sum()))
    assert got[2]["dims"] == [4]
    assert got[2]["value_sum"] == float(samp.astype(np.int64).sum()) / 32768.0


def test_multimodal_resize_fixed_size(spark):
    from actuarial_reserve_modelling_spark.operators.multimodal import (
        attach_binary_payload,
        resize_media,
    )

    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") % 13 == 0)
    out = resize_media(attach_binary_payload(docs), target_bytes=16).collect()
    assert len(out) > 0
    for r in out:
        assert len(r["payload"]) == 16
        assert r["orig_bytes"] > 0
    # deterministic: same input -> same resized bytes
    again = resize_media(attach_binary_payload(docs), target_bytes=16).collect()
    assert {(r["doc_id"], bytes(r["payload"])) for r in out} == {
        (r["doc_id"], bytes(r["payload"])) for r in again
    }


def test_rag_hash_embed_contract(spark):
    """hash_embed: identical texts -> identical vectors; different
    texts -> different vectors; values bounded in (-1, 1)."""
    from actuarial_reserve_modelling_spark.operators.similarity import hash_embed

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma delta")],
        "vec_id long, txt string",
    )
    rows = {r["vec_id"]: list(r["embedding"]) for r in hash_embed(df, "txt", dim=8).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    assert all(-1.0 < x < 1.0 for v in rows.values() for x in v)


def test_lsh_cosine_pairs_recall_vs_exact(spark):
    """lsh_cosine_pairs (hyperplane blocking + exact verify) must find
    ~all true near-dup pairs at tau=0.9: clustered vectors (each base
    vector plus small-noise copies) provide planted positives; random
    vectors provide mass that blocking must exclude cheaply."""
    import numpy as np

    from actuarial_reserve_modelling_spark.operators.similarity import (
        cosine_pairs,
        lsh_cosine_pairs,
    )

    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for _ in range(12):  # 12 clusters of 4 near-identical vectors
        base = rng.standard_normal(64)
        for _ in range(4):
            v = base + 0.05 * rng.standard_normal(64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(150):  # background noise vectors
        rows.append((vid, [float(x) for x in rng.standard_normal(64)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r["v1"], r["v2"])
        for r in cosine_pairs(emb, threshold=0.9).collect()
    }
    approx = {
        (r["v1"], r["v2"])
        for r in lsh_cosine_pairs(emb, threshold=0.9).collect()
    }
    assert len(exact) >= 60  # the planted clusters produce C(4,2)*12 = 72
    assert approx <= exact  # exact verify: no false positives
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.95, f"recall {recall:.3f}"


def test_simhash_banded_equals_bruteforce(spark):
    """The pigeonhole-banded pair join must reproduce the brute-force
    all-pairs answer exactly (it is a deterministic guarantee, not a
    probabilistic LSH): every pair within max_hamming bits shares at
    least one identical 15-bit band."""
    from actuarial_reserve_modelling_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_dup_pairs,
    )

    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 300)
    for max_h in (2, 3):
        got = {
            (r["d1"], r["d2"], r["hamming"])
            for r in simhash_near_dup_pairs(docs, max_hamming=max_h).collect()
        }
        fps = {r["doc_id"]: r["fp"] for r in simhash_fingerprints(docs).collect()}
        ids = sorted(fps)
        want = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                h = bin(fps[a] ^ fps[b]).count("1")
                if h <= max_h:
                    want.add((a, b, h))
        assert got == want
        assert want, f"degenerate test: no pairs at hamming<={max_h}"


def test_simhash_banded_rejects_unsound_hamming(spark):
    from actuarial_reserve_modelling_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(4)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dup_pairs(docs, max_hamming=4, bands=4)


def test_ngram_prefix_filter_equals_bruteforce(spark):
    """Prefix-filter blocking is exact: the blocked pair set must equal
    the all-pairs answer at every threshold — including low thresholds
    where probabilistic (MinHash) blocking would miss pairs."""
    from actuarial_reserve_modelling_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 120)
    rows = docs.select("doc_id", "text").collect()
    gram_sets = {
        r["doc_id"]: {r["text"][i : i + 3] for i in range(len(r["text"]) - 2)}
        for r in rows
        if len(r["text"]) >= 3
    }
    for tau in (0.3, 0.6):
        got = {(r["d1"], r["d2"]) for r in ngram_jaccard_pairs(docs, 3, tau).collect()}
        ids = sorted(gram_sets)
        want = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                ga, gb = gram_sets[a], gram_sets[b]
                union = len(ga | gb)
                if union and len(ga & gb) / union >= tau:
                    want.add((a, b))
        assert got == want
        assert want, f"degenerate test: no pairs at tau={tau}"


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_levenshtein_pairs_equals_bruteforce(spark):
    """Positional q-gram blocking is exact for strings meeting the
    length precondition n >= q*(d+1); shorter strings are excluded by
    documented contract."""
    from actuarial_reserve_modelling_spark.operators.dedup import levenshtein_pairs

    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 60)
    heads = docs.select("doc_id", F.substring("text", 1, 24).alias("head"))
    max_d = 11
    got = {
        (r["d1"], r["d2"], r["dist"])
        for r in levenshtein_pairs(heads, max_dist=max_d, q=2).collect()
    }
    rows = {r["doc_id"]: r["head"] for r in heads.collect() if len(r["head"]) >= 24}
    ids = sorted(rows)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = _lev(rows[a], rows[b])
            if d <= max_d:
                want.add((a, b, d))
    assert got == want
    assert want, "degenerate test: no pairs within distance"


@pytest.mark.slow
def test_levenshtein_prefix_pruning_is_exact(spark):
    """With q=5, d=2 on 80-char heads the prefix is 11 of 76 grams —
    real pruning — and duplicated heads guarantee matching pairs; the
    blocked answer must still equal brute force."""
    from actuarial_reserve_modelling_spark.operators.dedup import levenshtein_pairs

    docs = load_table(spark, SF_SMOKE, "documents").filter(
        (F.col("doc_id") < 80) & (F.length("text") >= 80)
    )
    heads = docs.select("doc_id", F.substring("text", 1, 80).alias("head")).unionByName(
        docs.select(
            (F.col("doc_id") + 10_000).alias("doc_id"),
            F.substring("text", 1, 80).alias("head"),
        )
    )
    got = {
        (r["d1"], r["d2"], r["dist"])
        for r in levenshtein_pairs(heads, max_dist=2, q=5).collect()
    }
    rows = {r["doc_id"]: r["head"] for r in heads.collect()}
    ids = sorted(rows)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = _lev(rows[a], rows[b])
            if d <= 2:
                want.add((a, b, d))
    assert got == want
    assert want, "degenerate test: no pairs"


def test_levenshtein_pairs_excludes_short_strings(spark):
    from actuarial_reserve_modelling_spark.operators.dedup import levenshtein_pairs

    rows = [Row(doc_id=1, head="ab"), Row(doc_id=2, head="ab"), Row(doc_id=3, head="abcdef")]
    df = spark.createDataFrame(rows)
    # q=2, d=2 -> min length 6: only doc 3 qualifies, so no pairs at all
    assert levenshtein_pairs(df, max_dist=2, q=2).count() == 0


def test_winnowing_skips_short_and_empty_docs(spark):
    """Docs shorter than k (including empty text) must emit NO
    fingerprints — without the length guard Spark's sequence(1, 0)
    descends and fabricates grams for them."""
    rows = [
        Row(doc_id=1, text=""),
        Row(doc_id=2, text="abc"),
        Row(doc_id=3, text="abcd"),
        Row(doc_id=4, text="abcdefghij"),
    ]
    df = spark.createDataFrame(rows)
    out = winnowing_fingerprints(df, k=5, window=4)
    assert {r["doc_id"] for r in out.collect()} == {4}


def test_dedup_clusters_raises_on_exhaustion(spark):
    from actuarial_reserve_modelling_spark.operators.dedup import dedup_clusters

    path = spark.createDataFrame(
        [Row(d1=i, d2=i + 1) for i in range(64)]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(path, max_iterations=1)


def test_scrub_pii_redacts_each_category(spark):
    from actuarial_reserve_modelling_spark.operators.textstats import scrub_pii

    rows = [
        (0, "mail me at jo.doe+x@sub.example.org thanks"),
        (1, "server at 192.168.0.1 and 10.0.200.1 up"),
        (2, "call +1 555-010-9999 now"),
        (3, "clean text with no pii at all"),
        (4, "both a@b.co and 8.8.8.8"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert got[0]["scrubbed"] == "mail me at <EMAIL> thanks"
    assert got[0]["n_emails"] == 1
    assert got[1]["scrubbed"] == "server at <IP> and <IP> up"
    assert got[1]["n_ips"] == 2
    assert got[2]["scrubbed"] == "call <PHONE> now"
    assert got[2]["n_phones"] == 1
    assert got[1]["n_phones"] == 0  # IPs must not double-count as phones
    assert got[3]["scrubbed"] == rows[3][1]
    assert got[4]["scrubbed"] == "both <EMAIL> and <IP>"


def test_incremental_minhash_matches_batch_pairs(spark):
    """Asymmetric index dedup must agree with the full self-join path
    restricted to new x index pairs (same banding, same seed)."""
    from actuarial_reserve_modelling_spark.operators.dedup import (
        build_dedup_index,
        minhash_dedup_against_index,
        minhash_near_dup_pairs,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    new = docs.filter(F.col("doc_id") % 3 == 0)
    old = docs.filter(F.col("doc_id") % 3 != 0)
    index = build_dedup_index(old, bands=16, rows_per_band=16)
    inc = {
        (r["new_id"], r["index_id"], r["jac"])
        for r in minhash_dedup_against_index(
            new, index, threshold=0.95, bands=16, rows_per_band=16
        ).collect()
    }
    full = minhash_near_dup_pairs(
        docs, threshold=0.95, bands=16, rows_per_band=16
    ).collect()
    want = set()
    for r in full:
        for a, b in ((r["d1"], r["d2"]), (r["d2"], r["d1"])):
            if a % 3 == 0 and b % 3 != 0:
                want.add((a, b, r["jac"]))
    assert inc == want


def test_ivf_index_add_equals_bulk_assignment(spark):
    """Adding a batch to an IVF index (assign against frozen centroids,
    union the lists) must answer queries identically to assigning the
    whole corpus in one pass with the same centroids."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_ivf_topk_indexed,
        ivf_assign,
        ivf_train_centroids,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    old = emb.filter(F.col("vec_id") % 3 != 0)
    new = emb.filter(F.col("vec_id") % 3 == 0)
    centroids = ivf_train_centroids(old, n_centroids=8)
    inc_lists = ivf_assign(old, centroids).unionByName(ivf_assign(new, centroids))
    bulk_lists = ivf_assign(emb, centroids)
    queries = emb.filter(F.col("vec_id") < 8)
    inc = {
        tuple(r)
        for r in ann_ivf_topk_indexed(
            inc_lists, centroids, emb, queries, k=5, nprobe=4
        ).collect()
    }
    bulk = {
        tuple(r)
        for r in ann_ivf_topk_indexed(
            bulk_lists, centroids, emb, queries, k=5, nprobe=4
        ).collect()
    }
    assert inc == bulk and len(inc) > 0


def test_ivfpq_recall_vs_exact_and_determinism(spark):
    from actuarial_reserve_modelling_spark.operators.similarity import ann_ivfpq_topk

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    res1 = ann_ivfpq_topk(emb, queries, k=5, n_centroids=16, nprobe=6, rerank=8)
    rows1 = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in res1.collect()}
    approx = {(q, n) for q, n, _ in rows1}
    # IVF pruning (6/16 lists) stacked on PQ quantization of uniform
    # vectors — the compound worst case; clustered real embeddings do
    # far better at the same budget
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF-PQ recall {recall:.2f} too low"
    rows2 = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ann_ivfpq_topk(
            emb, queries, k=5, n_centroids=16, nprobe=6, rerank=8
        ).collect()
    }
    assert rows1 == rows2


def test_lsh_bucket_cap_drops_degenerate_band_recall_via_other_bands(spark):
    """Skew kill-test for lsh_candidate_pairs: one band value collects
    EVERY doc (the template-corpus hazard). The bucket cap must drop
    that bucket — no quadratic blowup — while true pairs, which also
    collide in their own small per-pair buckets in the other bands, are
    all still emitted. Asserts the exact output pair set, which bounds
    the expansion at O(true pairs) instead of O(n²)."""
    from actuarial_reserve_modelling_spark.operators.dedup import lsh_candidate_pairs

    bands, rows = 4, 2
    n = 200
    # band 0 degenerate: identical slice for all docs. Bands 1-3 are
    # shared only within each (2j, 2j+1) pair.
    rows_data = [
        (i, [0, 0] + [100 + (i // 2), 7, 200 + (i // 2), 9, 300 + (i // 2), 11])
        for i in range(n)
    ]
    sigs = spark.createDataFrame(rows_data, "doc_id bigint, sig array<bigint>")
    got = {
        (r["d1"], r["d2"])
        for r in lsh_candidate_pairs(
            sigs, bands=bands, rows_per_band=rows, max_bucket_size=50
        ).collect()
    }
    expected = {(2 * j, 2 * j + 1) for j in range(n // 2)}
    assert got == expected, (len(got), len(expected))
    # sanity: without the cap, the degenerate band-0 bucket would emit
    # all C(200, 2) pairs
    uncapped = lsh_candidate_pairs(
        sigs, bands=bands, rows_per_band=rows, max_bucket_size=10_000
    ).count()
    assert uncapped == n * (n - 1) // 2


def test_simhash_bucket_cap_drops_template_flood_recall_via_other_bands(spark):
    """Skew kill-test for simhash_near_dup_pairs: 100 identical
    template docs flood every band bucket they touch past the cap, so
    no template pair survives (the documented trade-off); a genuine
    ≤2-bit pair that SHARES one band key with the template flood is
    still found through its other, small band buckets. The extra words
    (x0/x24 over a 41-word template) were chosen so the pair differs in
    exactly 2 bits and collides with the template only in band 1 —
    preconditions asserted below so a corpus-construction drift fails
    loudly rather than silently weakening the test."""
    from actuarial_reserve_modelling_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_dup_pairs,
    )

    tmpl_words = " ".join(f"tmpl{i}" for i in range(41))
    docs = [(i, tmpl_words) for i in range(100)]
    docs.append((100, tmpl_words + " x0"))
    docs.append((101, tmpl_words + " x24"))
    df = spark.createDataFrame(docs, "doc_id bigint, text string")

    # preconditions: pair within 2 bits; band 1 shared with template
    # (the flooded bucket); at least one other band shared pair-only
    fps = {r["doc_id"]: r["fp"] for r in simhash_fingerprints(df).collect()}
    width = 15
    bk = lambda fp, i: (fp >> (i * width)) & ((1 << width) - 1)  # noqa: E731
    assert bin(fps[100] ^ fps[101]).count("1") <= 2
    assert bk(fps[100], 1) == bk(fps[101], 1) == bk(fps[0], 1)
    pair_only = [
        i
        for i in range(4)
        if bk(fps[100], i) == bk(fps[101], i) != bk(fps[0], i)
    ]
    assert pair_only, "construction drifted: no pair-only band"

    got = {
        (r["d1"], r["d2"])
        for r in simhash_near_dup_pairs(
            df, max_hamming=2, bands=4, max_bucket_size=50
        ).collect()
    }
    assert (100, 101) in got
    assert not any(a < 100 and b < 100 for a, b in got), "template pairs not capped"


def test_semantic_dedup_clusters_and_singletons(spark):
    """Two semantic clusters + one singleton: min-id reps keep, members
    drop, singleton keeps itself; pluggable pair input produces the
    same answer as the built-in exact pair stage."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        cosine_pairs,
        semantic_dedup,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # ~same direction as 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.01, 0.999, 0.0]),   # ~same direction as 3
        (5, [0.0, 0.0, 1.0]),      # singleton
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {
        r["vec_id"]: (r["rep_id"], r["keep"])
        for r in semantic_dedup(emb, threshold=0.95, exact=True).collect()
    }
    assert got == {1: (1, 1), 2: (1, 0), 3: (3, 1), 4: (3, 0), 5: (5, 1)}
    # without pairs= and without the exact opt-in, the quadratic default
    # is refused — corpus-scale callers must choose a blocked pair stage
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pair stage"):
        semantic_dedup(emb, threshold=0.95)
    via_pairs = {
        r["vec_id"]: (r["rep_id"], r["keep"])
        for r in semantic_dedup(
            emb, pairs=cosine_pairs(emb, threshold=0.95)
        ).collect()
    }
    assert via_pairs == got


def test_domain_mix_weights_exact(spark):
    """weight = target_share / actual_share on token counts; domains
    outside the target mixture get weight 0."""
    from actuarial_reserve_modelling_spark.operators.traindata import (
        domain_mix_weights,
    )

    rows = [
        (1, "en", "a b c d e f"),   # 6 tokens
        (2, "en", "a b"),           # 2 -> en: 8 tokens
        (3, "de", "x y"),           # 2 -> de: 2
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    got = {
        r["domain"]: (r["n_docs"], r["n_tokens"], r["actual_share"], r["weight"])
        for r in domain_mix_weights(docs, {"en": 0.5, "fr": 0.5}).collect()
    }
    assert got["en"] == (2, 8, 0.8, 0.625)  # 0.5 / 0.8
    assert got["de"] == (1, 2, 0.2, 0.0)    # not in targets


def test_domain_mix_weights_tokenless_domain(spark):
    """A domain whose docs are all token-less has actual_share 0; its
    weight is pinned to 0.0 (not NULL, not inf) even when the target
    mixture names it — there is nothing to upsample."""
    from actuarial_reserve_modelling_spark.operators.traindata import (
        domain_mix_weights,
    )

    rows = [
        (1, "en", "a b c d"),  # 4 tokens
        (2, "xx", ""),         # token-less domain
        (3, "xx", "   "),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    got = {
        r["domain"]: (r["n_tokens"], r["actual_share"], r["weight"])
        for r in domain_mix_weights(docs, {"en": 0.5, "xx": 0.5}).collect()
    }
    assert got["en"] == (4, 1.0, 0.5)
    assert got["xx"] == (0, 0.0, 0.0)


def test_ann_auto_scaling_contract(spark):
    """n_centroids='auto' = max(16, isqrt(n)); downstream 'auto' knobs
    derive from it (nprobe = max(8, k//8), rerank = max(8, nprobe//2))
    and non-int/non-'auto' values are rejected."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        resolve_n_centroids,
    )

    emb = spark.range(400).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0)).alias("embedding")
    )
    assert resolve_n_centroids(emb, "auto") == 20  # isqrt(400)
    assert resolve_n_centroids(emb.limit(9), "auto") == 16  # floor
    assert resolve_n_centroids(emb, 7) == 7
    with pytest.raises(ValueError):
        resolve_n_centroids(emb, "sqrt")


def test_segment_dedup_drops_boilerplate_preserves_order(spark):
    """Segments above the DF bound vanish from every doc; kept segments
    reassemble in original order; an all-boilerplate doc comes back
    empty but present."""
    from actuarial_reserve_modelling_spark.operators.dedup import segment_dedup

    boiler = "b1 b2 b3"  # 3-word segment shared by all docs
    rows = [
        (1, boiler + " u1a u1b u1c"),
        (2, boiler + " u2a u2b u2c"),
        (3, boiler + " u3a u3b u3c"),
        (4, boiler),  # all boilerplate
        (5, "z1 z2 z3 z4 z5 z6"),  # no boilerplate, 2 segments
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_segments"], r["n_dropped"], r["cleaned"])
        for r in segment_dedup(df, seg_words=3, max_df=2).collect()
    }
    assert got[1] == (2, 1, "u1a u1b u1c")
    assert got[4] == (1, 1, "")
    assert got[5] == (2, 0, "z1 z2 z3 z4 z5 z6")  # order preserved
    assert len(got) == 5


def test_segment_dedup_tokenless_docs_and_large_dropset(spark):
    """Two contracts at once: (a) token-less documents (empty or
    whitespace-only text) still return a (doc_id, 0, 0, '') row instead
    of vanishing from the output; (b) a drop-set comprising nearly every
    distinct segment — the web-corpus regime where forcing a broadcast
    would OOM the driver — still anti-joins correctly under the default
    AQE-decided strategy (no forced broadcast hint)."""
    from actuarial_reserve_modelling_spark.operators.dedup import segment_dedup

    # 60 docs sharing 20 distinct 2-word boilerplate segments (each in
    # all 60 docs -> df=60 > max_df=2) plus one unique tail segment.
    shared = " ".join(f"s{j}a s{j}b" for j in range(20))
    rows = [(i, f"{shared} tail{i}a tail{i}b") for i in range(60)]
    rows += [(100, ""), (101, "   "), (102, "solo words here only once")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_segments"], r["n_dropped"], r["cleaned"])
        for r in segment_dedup(df, seg_words=2, max_df=2).collect()
    }
    assert len(got) == 63, "every input doc_id must come back"
    assert got[100] == (0, 0, "")
    assert got[101] == (0, 0, "")
    # unique doc: 3 segments ("solo words", "here only", "once"), none dropped
    assert got[102] == (3, 0, "solo words here only once")
    for i in range(60):
        # 20 boilerplate segments dropped, the unique tail kept
        assert got[i] == (21, 20, f"tail{i}a tail{i}b")


def test_repeated_span_removal_merging_and_edges(spark):
    """Repeated overlapping windows merge into maximal spans; within-doc
    repeats count toward the occurrence threshold; short and empty docs
    return 0 spans with their text intact."""
    from actuarial_reserve_modelling_spark.operators.dedup import (
        repeated_span_removal,
    )

    boiler = "b1 b2 b3 b4"  # repeated 3-token windows live inside this
    rows = [
        # docs 1 and 2 share the 4-token run -> windows (b1 b2 b3) and
        # (b2 b3 b4) both repeat -> marks [s,s+3) overlap -> ONE merged
        # span of 4 tokens in each doc
        (1, f"u1a u1b {boiler} u1c"),
        (2, f"{boiler} u2a u2b u2c"),
        # doc 3: WITHIN-doc repeat of 'r1 r2 r3' (count 2 in one doc)
        (3, "r1 r2 r3 x1 x2 r1 r2 r3"),
        (4, "short doc"),  # < window size: no windows, intact
        (5, ""),            # token-less
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_spans"], r["n_masked"], r["cleaned"])
        for r in repeated_span_removal(docs, span_words=3, min_count=2).collect()
    }
    assert got[1] == (7, 1, 4, "u1a u1b u1c")
    assert got[2] == (7, 1, 4, "u2a u2b u2c")
    # doc 3: marks at positions 1 and 6 (1-based), spans [1,4) and [6,9)
    # -> 2 spans, 6 masked, 'x1 x2' kept
    assert got[3] == (8, 2, 6, "x1 x2")
    assert got[4] == (2, 0, 0, "short doc")
    assert got[5] == (0, 0, 0, "")


def test_round7_ops_partition_invariant(spark):
    """Round-7 operators are pure functions of content: repartitioning
    the input must not change a single output row (the rerun/retry
    idempotence contract every 100 TB pipeline stage needs)."""
    from pyspark.sql import functions as F

    from actuarial_reserve_modelling_spark.operators.dedup import (
        repeated_span_removal,
        segment_dedup,
    )
    from actuarial_reserve_modelling_spark.operators.traindata import (
        dsir_importance_weights,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    shuffled = docs.repartition(13)
    for op in (
        lambda d: segment_dedup(d, seg_words=5, max_df=2),
        lambda d: repeated_span_removal(d, span_words=5, min_count=2),
        lambda d: dsir_importance_weights(
            d, target_pred=F.col("source") == "src0", buckets=1024
        ),
    ):
        a = sorted(map(tuple, op(docs).collect()))
        b = sorted(map(tuple, op(shuffled).collect()))
        assert a == b


@pytest.mark.slow
def test_ivf_cosine_pairs_recall_and_exact_dup_guarantee(spark):
    """The moderate-threshold blocked pair stage: IVF soft-assignment
    blocking must recover ~all true pairs at tau=0.4 (where hyperplane
    LSH degenerates) with zero false positives (exact verify), and
    exact duplicates must be found with probability 1 (identical
    vectors share every probed list deterministically)."""
    import numpy as np

    from actuarial_reserve_modelling_spark.operators.similarity import (
        cosine_pairs,
        ivf_cosine_pairs,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {(r["v1"], r["v2"]) for r in cosine_pairs(emb, 0.4).collect()}
    appr = {
        (r["v1"], r["v2"])
        for r in ivf_cosine_pairs(emb, 0.4, n_centroids=16, nprobe=4).collect()
    }
    assert appr <= exact, "exact verify admits no false positives"
    assert len(exact) >= 50
    recall = len(appr & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f}"
    # planted exact duplicates are ALWAYS found, any settings
    planted = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 500_000).alias("vec_id"), "embedding", "label"
    )
    n_planted = planted.count()
    both = emb.unionByName(planted)
    got = {
        (r["v1"], r["v2"])
        for r in ivf_cosine_pairs(both, 0.99, n_centroids=16, nprobe=2).collect()
    }
    expect_planted = {
        (r["vec_id"], r["vec_id"] + 500_000)
        for r in emb.filter(F.col("vec_id") % 7 == 0).collect()
    }
    assert expect_planted <= got
    assert len(expect_planted) == n_planted
    # zero vectors are excluded structurally, not crashed on
    import pandas as pd  # noqa: F401

    zero = spark.createDataFrame(
        [(900000, [0.0] * 64)], "vec_id bigint, embedding array<double>"
    ).unionByName(emb.select("vec_id", "embedding").limit(20))
    assert ivf_cosine_pairs(zero, 0.4, n_centroids=4, nprobe=2).filter(
        (F.col("v1") == 900000) | (F.col("v2") == 900000)
    ).count() == 0


def test_lsh_index_dedup_custom_id_col(spark):
    """ADVICE r7: ``hyperplane_signatures_multi`` hardcoded ``vec_id``
    in its output schema, so ``lsh_cosine_dedup_against_index`` threw
    AnalysisException for any non-default ``id_col`` — a latent break
    in the incremental-index API. Drive the whole path under renamed
    id/vector columns: one exact re-encounter must be found with
    probability 1, one novel vector must pass."""
    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        hyperplane_signatures_multi,
        lsh_cosine_dedup_against_index,
    )

    rng = np.random.default_rng(3)
    idx_vecs = [(int(i), [float(x) for x in rng.standard_normal(64)]) for i in range(8)]
    schema = T.StructType(
        [
            T.StructField("doc_key", T.LongType()),
            T.StructField("vec", T.ArrayType(T.DoubleType())),
        ]
    )
    vec_index = spark.createDataFrame(idx_vecs, schema)
    sig_index = hyperplane_signatures_multi(
        vec_index, num_planes=12, num_tables=24, id_col="doc_key", vec_col="vec"
    )
    assert sig_index.columns == ["doc_key", "table", "sig"]
    new = spark.createDataFrame(
        [(100, idx_vecs[3][1]), (101, [float(x) for x in rng.standard_normal(64)])],
        schema,
    )
    hits = {
        (r["new_id"], r["index_id"], r["sim"])
        for r in lsh_cosine_dedup_against_index(
            new, sig_index, vec_index, threshold=0.9, id_col="doc_key", vec_col="vec"
        ).collect()
    }
    assert hits == {(100, 3, 1.0)}


@pytest.mark.slow
def test_ivf_hier_topk_planted_recall_determinism_and_index_shape(spark):
    """The two-level (hierarchical) IVF index (r8,
    operators/similarity.py::ivf_hier_build): (1) exact twins are
    retrieved at rank 1 with probability 1 (hard super assign through
    the shared kernel + per-super child ranking with the build's own
    arithmetic — the l3g oracle's contract); (2) recall vs exact top-k
    on CLUSTERED vectors stays high at default probes; (3) the build
    is deterministic end-to-end; (4) the index frame splits into
    member rows and child-centroid rows whose child ids are consistent
    and whose total child count tracks the sqrt-n list rule."""
    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_ivf_hier_topk,
        ivf_hier_build,
    )

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((12, 64)) * 3
    pts = np.concatenate([c + rng.standard_normal((80, 64)) * 0.3 for c in centers])
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(pts)], schema
    )
    twins = emb.filter(F.col("vec_id") % 60 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twins)
    res1 = sorted(
        tuple(r) for r in ann_ivf_hier_topk(corpus, twins, k=1).collect()
    )
    assert {(r[0], r[1], r[3]) for r in res1} == {
        (100000 + s, s, 1.0) for s in range(0, len(pts), 60)
    }
    res2 = sorted(
        tuple(r) for r in ann_ivf_hier_topk(corpus, twins, k=1).collect()
    )
    assert res1 == res2
    # general recall on clustered data
    from actuarial_reserve_modelling_spark.operators.similarity import cosine_topk

    q = emb.filter(F.col("vec_id") % 97 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_ivf_hier_topk(emb, q, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.85, f"hier-IVF recall {recall:.2f} too low"
    # index shape: members reference existing children; child count
    # tracks the sqrt-n rule within 2x either way
    index, _ = ivf_hier_build(emb)
    members = index.filter(F.col("vec_id").isNotNull())
    cents = index.filter(F.col("vec_id").isNull())
    n = emb.count()
    n_children = cents.count()
    assert n_children <= 2 * max(16, int(n**0.5))
    assert members.count() == n
    dangling = members.join(
        cents.select("super", "child"), ["super", "child"], "left_anti"
    )
    assert dangling.count() == 0


def test_arrowkit_respects_slices_and_chunks():
    """The zero-copy helpers must read ONLY their own rows when Spark
    hands the kernel a SLICED batch (Arrow slices on the
    maxRecordsPerBatch boundary share the parent's values buffer — a
    naive .values read would see the neighbor rows' elements) and must
    accept chunked columns."""
    import numpy as np
    import pyarrow as pa

    from actuarial_reserve_modelling_spark.operators.arrowkit import (
        fixed_vecs,
        int_col,
        ragged_values,
        rows_to_list_array,
    )

    full = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0]])
    sliced = full.slice(1, 2)  # rows [3,4],[5,6] — values buffer shared
    assert np.array_equal(fixed_vecs(sliced), np.array([[3.0, 4.0], [5.0, 6.0]]))

    rag = pa.array([[1, 2, 3], [], [4], [5, 6]], type=pa.list_(pa.int64()))
    vals, lens, bounds = ragged_values(rag.slice(1, 3))  # [], [4], [5,6]
    assert np.array_equal(vals, [4, 5, 6])
    assert np.array_equal(lens, [0, 1, 2])
    assert np.array_equal(bounds, [0, 1])  # starts of the NON-EMPTY rows

    chunked = pa.chunked_array([full.slice(0, 2), full.slice(2, 2)])
    assert np.array_equal(fixed_vecs(chunked), fixed_vecs(full))

    ids = pa.chunked_array([pa.array([7, 8]), pa.array([9])])
    assert np.array_equal(int_col(ids), [7, 8, 9])

    back = rows_to_list_array(np.array([[1, 2], [3, 4]]), pa.int64())
    assert back.to_pylist() == [[1, 2], [3, 4]]


@pytest.mark.slow
def test_kernel_cosine_verify_partition_invariant(spark):
    """The batch Arrow verify (_kernel_cosine_sims) must be invariant
    to partitioning: sims are per-row sequential sums, so shuffle
    layout cannot perturb any value — the property the hash oracles
    rely on."""
    from actuarial_reserve_modelling_spark.plans.registry import load_all

    from .conftest import SF_SMOKE

    reg = load_all()
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        a = sorted(tuple(r) for r in reg["l4_cosine_pairs"].spark_fn(spark, SF_SMOKE).collect())
        spark.conf.set("spark.sql.shuffle.partitions", "31")
        b = sorted(tuple(r) for r in reg["l4_cosine_pairs"].spark_fn(spark, SF_SMOKE).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert a == b and len(a) > 0


@pytest.mark.slow
def test_ivf_pairs_duplicate_heavy_matches_brute_force(spark):
    """r9 digest-collapse (operators/similarity.py::_collapse_units):
    a duplicate-heavy corpus — including one hot group of identical
    vectors — must yield EXACTLY the brute-force pair set through both
    ivf_cosine_pairs quantizer shapes. Exercises the collapse, the
    within-group sim-1.0 emission, and the cross-group expansion."""
    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        cosine_pairs,
        ivf_cosine_pairs,
    )

    rng = np.random.default_rng(3)
    base = rng.standard_normal((400, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(400)]
    # exact twins of every 5th vector + a 40-member hot dup group
    rows += [(1000 + i, [float(x) for x in base[i]]) for i in range(0, 400, 5)]
    rows += [(3000 + j, [float(x) for x in base[7]]) for j in range(40)]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(rows, schema)
    want = {tuple(r) for r in cosine_pairs(emb, 0.95).collect()}
    got_auto = {tuple(r) for r in ivf_cosine_pairs(emb, 0.95, nprobe=4).collect()}
    got_flat = {
        tuple(r)
        for r in ivf_cosine_pairs(emb, 0.95, n_centroids=16, nprobe=4).collect()
    }
    assert got_auto == want and got_flat == want and len(want) > 100


@pytest.mark.slow
def test_hier_group_cap_bounds_pathological_cluster(spark):
    """r9 hard group cap: a single-tight-cluster corpus (every vector
    in one ball — level 1 cannot spread it) must still build with NO
    level-2 task materializing more than group_cap rows. The cap is
    enforced by an in-kernel raise, so success IS the evidence; the
    planted twins must still come back at rank 1 / sim 1.0 through the
    per-(super, slot) routing."""
    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_ivf_hier_topk,
        ivf_cosine_pairs,
    )

    rng = np.random.default_rng(13)
    center = rng.standard_normal(16)
    pts = center[None, :] + 0.01 * rng.standard_normal((1500, 16))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(1500)], schema
    )
    twins = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twins)
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["sim"])
        for r in ann_ivf_hier_topk(corpus, twins, k=1, group_cap=256).collect()
    }
    assert got == {(100000 + s, s, 1, 1.0) for s in range(0, 1500, 100)}
    # the pair path under the same pathology: the planted twin pairs
    # all survive (collapsed upstream — immune to slicing)
    pairs = ivf_cosine_pairs(corpus, threshold=0.999999, nprobe=2, n_iters=1)
    got_pairs = {(r.v1, r.v2) for r in pairs.collect()}
    assert {(s, s + 100000) for s in range(0, 1500, 100)} <= got_pairs


@pytest.mark.slow
def test_persisted_ann_index_roundtrip(spark, tmp_path):
    """persist_ann_index / load_ann_index / ann_ivf_hier_topk_persisted:
    the persisted index must (a) lay out members and child centroids as
    super=<s> partition directories, (b) reload to a frame that answers
    IDENTICALLY to the in-memory index (parquet doubles are bitwise),
    (c) answer identically again under a pruned load restricted to the
    probed supers, and (d) carry the probe set into the members scan as
    PartitionFilters."""
    import os

    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_ivf_hier_topk_indexed,
        ann_ivf_hier_topk_persisted,
        ivf_hier_build,
        load_ann_index,
        persist_ann_index,
    )

    rng = np.random.default_rng(21)
    pts = rng.standard_normal((600, 16))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(600)], schema
    )
    queries = emb.filter(F.col("vec_id") % 60 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(queries)
    index, super_cent = ivf_hier_build(corpus)
    in_mem = {
        tuple(r)
        for r in ann_ivf_hier_topk_indexed(
            index, super_cent, corpus, queries, k=3
        ).collect()
    }
    path = str(tmp_path / "ann_index")
    persist_ann_index(index, super_cent, path)
    # (a) hive layout partitioned on the probed key
    assert any(d.startswith("super=") for d in os.listdir(path + "/members"))
    assert any(d.startswith("super=") for d in os.listdir(path + "/children"))
    # (b) reloaded index routes identically
    re_index, re_cent = load_ann_index(spark, path)
    assert np.array_equal(re_cent, super_cent)
    full = {
        tuple(r)
        for r in ann_ivf_hier_topk_indexed(
            re_index, re_cent, corpus, queries, k=3
        ).collect()
    }
    # (c) pruned load answers identically end to end
    pruned = {
        tuple(r)
        for r in ann_ivf_hier_topk_persisted(spark, path, corpus, queries, k=3).collect()
    }
    assert in_mem == full == pruned and len(in_mem) == 30
    # every twin query retrieves its source at rank 1 / sim 1.0
    assert {(q, q - 100000, 1, 1.0) for q in range(100000, 100600, 60)} <= in_mem
    # (d) the pruned members scan carries PartitionFilters
    some = [0, 1]
    pruned_members, _ = load_ann_index(spark, path, supers=some)
    plan = pruned_members._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "super" in plan


@pytest.mark.slow
def test_ann_index_add_routes_to_source_lists(spark, tmp_path):
    """add_to_ann_index: an added vector bitwise-identical to an
    indexed member must land in EXACTLY its member's (super, child)
    row — the structural property behind the l35 oracle — the append
    must touch only those supers' partition directories, and a k=2
    query for a third copy must return (source, added) at sims 1.0."""
    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_ann_index,
        ann_ivf_hier_topk_persisted,
        ivf_hier_build,
        persist_ann_index,
    )

    rng = np.random.default_rng(29)
    pts = rng.standard_normal((500, 16))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(500)], schema
    )
    added = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    path = str(tmp_path / "ann_index")
    index, super_cent = ivf_hier_build(emb)
    persist_ann_index(index, super_cent, path)
    add_to_ann_index(spark, path, added)
    members = spark.read.parquet(path + "/members")
    assert members.count() == 500 + 10
    src = members.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("s"), "super", "child"
    )
    twin = members.filter(F.col("vec_id") >= 100000).select(
        (F.col("vec_id") - 100000).alias("s"),
        F.col("super").alias("t_super"),
        F.col("child").alias("t_child"),
    )
    j = src.join(twin, "s")
    assert j.count() == 10
    assert (
        j.filter(
            (F.col("super") != F.col("t_super")) | (F.col("child") != F.col("t_child"))
        ).count()
        == 0
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
    )
    pool = emb.unionByName(added)
    got = {
        tuple(r)
        for r in ann_ivf_hier_topk_persisted(spark, path, pool, queries, k=2).collect()
    }
    want = {(s + 200000, s, 1, 1.0) for s in range(0, 500, 50)} | {
        (s + 200000, s + 100000, 2, 1.0) for s in range(0, 500, 50)
    }
    assert got == want


@pytest.mark.slow
def test_ann_index_add_preassigned_parity(spark, tmp_path):
    """r15 (t13 gate level-1 share): add_to_ann_index fed the query's
    rank-ordered probe frame (return_probes=True) must append rows
    IDENTICAL to a fresh self-routing append — probes rank 0 is the
    lexicographic (distance, index) minimum, exactly the hard assign —
    and a probe frame routed against different centroids must fail
    loudly instead of appending misrouted members."""
    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_ann_index,
        ann_ivf_hier_topk_persisted,
        ivf_assign,
        ivf_hier_build,
        persist_ann_index,
    )

    rng = np.random.default_rng(31)
    pts = rng.standard_normal((400, 16))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(400)], schema
    )
    batch = emb.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )

    def tier(sub: str) -> str:
        p = str(tmp_path / sub)
        index, super_cent = ivf_hier_build(emb)
        persist_ann_index(index, super_cent, p, embeddings=emb)
        return p

    path_a, path_b = tier("fresh"), tier("preassigned")
    # the gate's flow: query the tier (k+1), reuse the probes for the
    # append — a SUPERSET frame (whole batch) vs the committed subset
    _topk, probes = ann_ivf_hier_topk_persisted(
        spark, path_b, None, batch, k=2, return_probes=True
    )
    committed = batch.filter(F.col("vec_id") % 80 == 0)  # strict subset
    add_to_ann_index(spark, path_a, committed)
    add_to_ann_index(spark, path_b, committed, preassigned=probes)
    cols = ["vec_id", "super", "child"]
    a = sorted(
        map(tuple, spark.read.parquet(path_a + "/members").select(*cols).collect())
    )
    b = sorted(
        map(tuple, spark.read.parquet(path_b + "/members").select(*cols).collect())
    )
    assert a == b

    # foreign probes: routed against DIFFERENT centroids — loud failure
    wrong_cent = rng.standard_normal((8, 16))
    foreign = ivf_assign(batch, wrong_cent, nprobe=2, with_rank=True)
    import pytest

    with pytest.raises(ValueError, match="DIFFERENT super centroids"):
        add_to_ann_index(spark, path_a, committed, preassigned=foreign)
    # a rank-less frame is rejected too (cannot extract the hard super)
    with pytest.raises(ValueError, match="_rank"):
        add_to_ann_index(
            spark,
            path_a,
            committed,
            preassigned=probes.drop("_rank"),
        )


def test_ann_index_add_preassigned_must_cover_batch(spark, tmp_path):
    """add_to_ann_index(preassigned=...) over a probe frame that misses
    some batch ids must raise naming them, not append the covered rest
    and silently drop the others."""
    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_ann_index,
        ann_ivf_hier_topk_persisted,
        ivf_hier_build,
        persist_ann_index,
    )

    rng = np.random.default_rng(7)
    pts = rng.standard_normal((120, 8))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(120)], schema
    )
    batch = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    path = str(tmp_path / "tier")
    index, super_cent = ivf_hier_build(emb)
    persist_ann_index(index, super_cent, path, embeddings=emb)
    # probes over a strict SUBSET of the batch: 100020, 100060 and
    # 100100 are missing from them
    _topk, probes = ann_ivf_hier_topk_persisted(
        spark, path, None, batch.filter(F.col("vec_id") % 40 == 0), k=2,
        return_probes=True,
    )
    with pytest.raises(
        ValueError, match=r"does not cover batch ids \[100020, 100060, 100100\]"
    ):
        add_to_ann_index(spark, path, batch, preassigned=probes)
    # nothing was appended: the batch ids are still absent from the tier
    members = spark.read.parquet(path + "/members")
    assert members.filter(F.col("vec_id") >= 100000).count() == 0


@pytest.mark.slow
def test_ann_index_delete_semantics(spark, tmp_path):
    """delete_from_ann_index: deleted ids vanish from the member rows,
    UNTOUCHED supers keep their files byte-identical (dynamic partition
    overwrite rewrites only touched directories), a super emptied
    entirely loses its directory (the dynamic-overwrite blind spot,
    handled explicitly), and a k=1 twin query for a deleted source
    falls through to the next-best survivor."""
    import os

    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_ivf_hier_topk_persisted,
        delete_from_ann_index,
        ivf_hier_build,
        persist_ann_index,
    )

    rng = np.random.default_rng(31)
    pts = rng.standard_normal((400, 16))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(400)], schema
    )
    path = str(tmp_path / "ann_index")
    index, super_cent = ivf_hier_build(emb)
    persist_ann_index(index, super_cent, path)
    members0 = spark.read.parquet(path + "/members")
    sup_of = {r["vec_id"]: r["super"] for r in members0.collect()}
    # delete: every member of ONE super (empties it) + one id from another
    victim_super = sup_of[0]
    all_of_victim = sorted(i for i, s in sup_of.items() if s == victim_super)
    other_id = next(i for i, s in sup_of.items() if s != victim_super)
    untouched = sorted(
        {s for i, s in sup_of.items() if s not in (victim_super, sup_of[other_id])}
    )
    listing_before = {
        s: sorted(os.listdir(path + f"/members/super={s}")) for s in untouched
    }
    dels = spark.createDataFrame(
        [(int(i),) for i in all_of_victim + [other_id]], "vec_id long"
    )
    delete_from_ann_index(spark, path, dels)
    # emptied super's directory is gone; untouched supers byte-identical
    assert not os.path.exists(path + f"/members/super={victim_super}")
    for s in untouched:
        assert sorted(os.listdir(path + f"/members/super={s}")) == listing_before[s]
    members1 = spark.read.parquet(path + "/members")
    remaining = {r["vec_id"] for r in members1.select("vec_id").collect()}
    gone = set(all_of_victim) | {other_id}
    assert remaining == set(range(400)) - gone
    # a twin query for a deleted id returns a survivor, never the deleted id
    q = emb.filter(F.col("vec_id") == other_id).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    res = ann_ivf_hier_topk_persisted(spark, path, emb, q, k=1).collect()
    assert len(res) == 1 and res[0]["neighbor_id"] not in gone


@pytest.mark.slow
def test_ann_index_add_skewed_batch_bounded(spark, tmp_path):
    """add_to_ann_index under ingest skew: a batch that is one tight
    cluster hard-routes almost entirely to one super — the hash
    sub-split must keep every routing task at or under group_cap (the
    in-kernel raise makes success the evidence), twins must land in
    their members' SUPER (their exact child only when the build did
    not slice that super — here it did, so the child may differ), and
    a third twin's k=2 query must still retrieve (source, added twin)
    at sims 1.0: the added twin's child is the identical query's
    global rank-1 and therefore its own slot's rank-1, so it is always
    probed."""
    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_ann_index,
        ivf_hier_build,
        persist_ann_index,
    )

    rng = np.random.default_rng(37)
    center = rng.standard_normal(16)
    pts = center[None, :] + 0.01 * rng.standard_normal((800, 16))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(800)], schema
    )
    path = str(tmp_path / "ann_index")
    index, super_cent = ivf_hier_build(emb, group_cap=256)
    persist_ann_index(index, super_cent, path)
    batch = emb.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    add_to_ann_index(spark, path, batch, group_cap=64)
    members = spark.read.parquet(path + "/members")
    assert members.count() == 800 + 400
    src = members.filter(F.col("vec_id") < 100000).select(
        F.col("vec_id").alias("s"), "super", "child"
    )
    twin = members.filter(F.col("vec_id") >= 100000).select(
        (F.col("vec_id") - 100000).alias("s"),
        F.col("super").alias("t_super"),
        F.col("child").alias("t_child"),
    )
    j = src.join(twin, "s")
    assert j.count() == 400
    assert j.filter(F.col("super") != F.col("t_super")).count() == 0
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
    )
    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_ivf_hier_topk_persisted,
    )
    pool = emb.unionByName(batch)
    got = {
        tuple(r)
        for r in ann_ivf_hier_topk_persisted(
            spark, path, pool, queries, k=2, group_cap=256
        ).collect()
    }
    want = {(s_ + 200000, s_, 1, 1.0) for s_ in range(0, 800, 100)} | {
        (s_ + 200000, s_ + 100000, 2, 1.0) for s_ in range(0, 800, 100)
    }
    assert got == want


@pytest.mark.slow
def test_persisted_ann_index_vector_bearing_corpus_free(spark, tmp_path):
    """r10 layout: persist_ann_index(embeddings=...) stores each
    member's vector in its members/ partition row, and the persisted
    query with embeddings=None must (a) answer IDENTICALLY to the
    corpus-join path, (b) read ZERO corpus files — the executed plan
    references only the index datasets, with PartitionFilters on the
    members scan — (c) keep vectors through add (ingested twins rerank
    from the index) and delete (survivor rows keep vec), (d) be
    idempotent under a retried add, and (e) decode a non-default build
    group_cap from meta/ without the caller repeating it."""
    import os

    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_ann_index,
        ann_ivf_hier_topk_persisted,
        delete_from_ann_index,
        ivf_hier_build,
        persist_ann_index,
        read_ann_index_meta,
    )

    rng = np.random.default_rng(41)
    pts = rng.standard_normal((600, 16))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    corpus_path = str(tmp_path / "corpus_tbl")
    spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(600)], schema
    ).write.parquet(corpus_path)
    emb = spark.read.parquet(corpus_path)
    # queries built INDEPENDENTLY of the corpus table (same values) so
    # the scan-path assertion below sees zero legitimate corpus reads
    queries = spark.createDataFrame(
        [(i + 200000, [float(x) for x in pts[i]]) for i in range(0, 600, 60)], schema
    )
    path = str(tmp_path / "ann_index")
    index, super_cent = ivf_hier_build(emb, group_cap=256)
    persist_ann_index(index, super_cent, path, embeddings=emb, group_cap=256)
    meta = read_ann_index_meta(spark, path)
    assert meta == {"group_cap": 256, "has_vectors": True, "layout_version": 2}
    # (e) no group_cap passed: decoded from meta
    res = ann_ivf_hier_topk_persisted(spark, path, None, queries, k=3)
    # (b) corpus-scan-free: the plan must not reference the corpus table
    prev_len = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = res._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev_len)
    assert "corpus_tbl" not in plan
    assert "PartitionFilters" in plan and "members" in plan
    # (a) identical to the corpus-join path on the same index
    corpus_free = {tuple(r) for r in res.collect()}
    via_corpus = {
        tuple(r)
        for r in ann_ivf_hier_topk_persisted(spark, path, emb, queries, k=3).collect()
    }
    assert corpus_free == via_corpus and len(corpus_free) == 30
    assert {(q, q - 200000, 1, 1.0) for q in range(200000, 200600, 60)} <= corpus_free
    # (c)+(d) add twins; a retried add appends nothing (idempotent)
    added = emb.filter(F.col("vec_id") % 60 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    add_to_ann_index(spark, path, added)
    n_after = spark.read.parquet(path + "/members").count()
    assert n_after == 600 + 10
    add_to_ann_index(spark, path, added)  # retry
    assert spark.read.parquet(path + "/members").count() == n_after
    got = {
        tuple(r)
        for r in ann_ivf_hier_topk_persisted(spark, path, None, queries, k=2).collect()
    }
    want = {(s + 200000, s, 1, 1.0) for s in range(0, 600, 60)} | {
        (s + 200000, s + 100000, 2, 1.0) for s in range(0, 600, 60)
    }
    assert got == want
    # (c) delete originals: vec column survives the rewrite, the added
    # twin is now the only sim-1.0 neighbor
    delete_from_ann_index(
        spark, path, emb.filter(F.col("vec_id") % 60 == 0).select("vec_id")
    )
    members = spark.read.parquet(path + "/members")
    assert "vec" in members.columns
    assert members.filter(F.col("vec").isNull()).count() == 0
    got1 = {
        tuple(r)
        for r in ann_ivf_hier_topk_persisted(spark, path, None, queries, k=1).collect()
    }
    assert got1 == {(s + 200000, s + 100000, 1, 1.0) for s in range(0, 600, 60)}


@pytest.mark.slow
def test_persisted_ivfpq_index_lifecycle(spark, tmp_path):
    """r10 PQ-tier lifecycle: persist_ivfpq_index / add_to_ivfpq_index /
    delete_from_ivfpq_index / ann_ivfpq_topk_persisted must (a) lay the
    codes out as cluster=<c> partition directories with driver-resident
    cents/books reloading bitwise, (b) answer the planted-twin
    construction exactly through persist → add → query (added twins
    encode with the PERSISTED codebooks, no retrain), (c) be idempotent
    under a retried add, (d) read zero corpus files (plan assertion) with
    the probed-cluster predicate pruning the codes scan, and (e) delete
    via touched-partition-only rewrite."""
    import os

    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_ivfpq_index,
        ann_ivfpq_topk,
        ann_ivfpq_topk_persisted,
        delete_from_ivfpq_index,
        load_ivfpq_index,
        persist_ivfpq_index,
    )

    rng = np.random.default_rng(43)
    pts = rng.standard_normal((400, 16))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    corpus_path = str(tmp_path / "corpus_tbl")
    spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(400)], schema
    ).write.parquet(corpus_path)
    emb = spark.read.parquet(corpus_path)
    queries = spark.createDataFrame(
        [(i + 200000, [float(x) for x in pts[i]]) for i in range(0, 400, 40)], schema
    )
    path = str(tmp_path / "ivfpq_index")
    persist_ivfpq_index(emb, path, n_centroids=8, m_subspaces=8, n_codes=16)
    # (a) layout + bitwise reload
    assert any(d.startswith("cluster=") for d in os.listdir(path + "/codes"))
    cent, books, meta = load_ivfpq_index(spark, path)
    assert meta["has_vectors"] and cent.shape == (8, 16) and books.shape == (8, 16, 2)
    # (d) corpus-scan-free + pruned codes read
    res = ann_ivfpq_topk_persisted(spark, path, None, queries, k=1, nprobe=4, rerank=32)
    prev_len = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = res._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev_len)
    assert "corpus_tbl" not in plan
    assert "PartitionFilters" in plan
    # (b) persisted query == one-shot in-memory path on identical inputs
    got1 = {tuple(r) for r in res.collect()}
    want1 = {(s + 200000, s, 1, 1.0) for s in range(0, 400, 40)}
    assert got1 == want1
    one_shot = {
        tuple(r)
        for r in ann_ivfpq_topk(
            emb, queries, k=1, n_centroids=8, nprobe=4, m_subspaces=8,
            n_codes=16, rerank=32,
        ).collect()
    }
    assert one_shot == got1
    # (b)+(c) add twins with the persisted books; retried add is a no-op
    added = emb.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    add_to_ivfpq_index(spark, path, added)
    assert spark.read.parquet(path + "/codes").count() == 410
    add_to_ivfpq_index(spark, path, added)
    assert spark.read.parquet(path + "/codes").count() == 410
    got2 = {
        tuple(r)
        for r in ann_ivfpq_topk_persisted(
            spark, path, None, queries, k=2, nprobe=4, rerank=32
        ).collect()
    }
    assert got2 == want1 | {(s + 200000, s + 100000, 2, 1.0) for s in range(0, 400, 40)}
    # (e) delete the originals: only the added twins remain at sim 1.0,
    # untouched cluster directories keep their files byte-identical
    codes0 = spark.read.parquet(path + "/codes")
    touched = {
        r["cluster"]
        for r in codes0.filter(F.col("vec_id") % 40 == 0)
        .select("cluster").distinct().collect()
    }
    untouched = sorted(
        {r["cluster"] for r in codes0.select("cluster").distinct().collect()} - touched
    )
    listing_before = {
        c: sorted(os.listdir(path + f"/codes/cluster={c}")) for c in untouched
    }
    delete_from_ivfpq_index(
        spark, path, emb.filter(F.col("vec_id") % 40 == 0).select("vec_id")
    )
    for c in untouched:
        assert sorted(os.listdir(path + f"/codes/cluster={c}")) == listing_before[c]
    got3 = {
        tuple(r)
        for r in ann_ivfpq_topk_persisted(
            spark, path, None, queries, k=1, nprobe=4, rerank=32
        ).collect()
    }
    assert got3 == {(s + 200000, s + 100000, 1, 1.0) for s in range(0, 400, 40)}


@pytest.mark.slow
def test_persisted_dedup_index_lifecycle(spark, tmp_path):
    """r10 fingerprint tier: persist_dedup_index / add_to_dedup_index /
    delete_from_dedup_index must (a) lay fingerprints out as id-hash
    part=<p> directories with the banding parameters in meta/, (b) sign
    added batches with the PERSISTED parameters and append bucket-
    locally, (c) be idempotent under a retried add, (d) after a delete,
    equal an index built directly over the surviving docs (same rows,
    and identical ingest-check answers), and (e) leave untouched
    buckets' files byte-identical through the delete."""
    import os

    from actuarial_reserve_modelling_spark.operators.dedup import (
        add_to_dedup_index,
        build_dedup_index,
        delete_from_dedup_index,
        load_dedup_index,
        minhash_dedup_against_index,
        persist_dedup_index,
        read_dedup_index_meta,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    path = str(tmp_path / "dedup_index")
    base = build_dedup_index(
        corpus.filter(F.col("doc_id") % 4 != 1), bands=16, rows_per_band=16
    )
    persist_dedup_index(base, path, bands=16, rows_per_band=16, n_buckets=16)
    # (a) layout + meta
    assert any(d.startswith("part=") for d in os.listdir(path + "/fingerprints"))
    meta = read_dedup_index_meta(spark, path)
    assert meta["bands"] == 16 and meta["rows_per_band"] == 16
    assert meta["n_buckets"] == 16
    # (b)+(c) add the rest; a retried add appends nothing
    batch = corpus.filter(F.col("doc_id") % 4 == 1)
    add_to_dedup_index(spark, path, batch)
    n_all = spark.read.parquet(path + "/fingerprints").count()
    assert n_all == base.count() + batch.count()
    add_to_dedup_index(spark, path, batch)
    assert spark.read.parquet(path + "/fingerprints").count() == n_all
    # (e) snapshot untouched buckets before the delete
    fp = spark.read.parquet(path + "/fingerprints")
    touched = {
        r["part"]
        for r in fp.filter(F.col("doc_id") % 5 == 1)
        .select("part").distinct().collect()
    }
    untouched = sorted(
        {r["part"] for r in fp.select("part").distinct().collect()} - touched
    )
    listing_before = {
        b: sorted(os.listdir(path + f"/fingerprints/part={b}")) for b in untouched
    }
    delete_from_dedup_index(
        spark, path, corpus.filter(F.col("doc_id") % 5 == 1).select("doc_id")
    )
    for b in untouched:
        assert sorted(os.listdir(path + f"/fingerprints/part={b}")) == listing_before[b]
    # idempotent delete rerun: converges to the same state
    delete_from_dedup_index(
        spark, path, corpus.filter(F.col("doc_id") % 5 == 1).select("doc_id")
    )
    # (d) surviving tier == index built directly over surviving docs
    survivors_direct = build_dedup_index(
        corpus.filter(F.col("doc_id") % 5 != 1), bands=16, rows_per_band=16
    )
    reloaded = load_dedup_index(spark, path)
    assert reloaded.count() == survivors_direct.count()
    assert (
        reloaded.select("doc_id")
        .exceptAll(survivors_direct.select("doc_id"))
        .count()
        == 0
    )
    new = docs.filter(F.col("doc_id") % 3 == 0)
    got = {
        (r["new_id"], r["index_id"], r["jac"])
        for r in minhash_dedup_against_index(
            new, reloaded, threshold=0.95, bands=16, rows_per_band=16
        ).collect()
    }
    want = {
        (r["new_id"], r["index_id"], r["jac"])
        for r in minhash_dedup_against_index(
            new, survivors_direct, threshold=0.95, bands=16, rows_per_band=16
        ).collect()
    }
    assert got == want
    assert all(b % 5 != 1 for _, b, _ in got)


@pytest.mark.slow
def test_compact_partitioned_index_folds_hot_partitions_only(spark, tmp_path):
    """compact_ann_index: repeated ingests accrete one file per touched
    super per batch; compaction must rewrite ONLY the partitions over
    the file threshold (cold partitions byte-identical), preserve rows
    exactly, and leave queries answering identically."""
    import os

    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_ann_index,
        ann_ivf_hier_topk_persisted,
        compact_ann_index,
        ivf_hier_build,
        persist_ann_index,
    )

    rng = np.random.default_rng(47)
    pts = rng.standard_normal((400, 16))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(400)], schema
    )
    path = str(tmp_path / "ann_index")
    index, super_cent = ivf_hier_build(emb)
    persist_ann_index(index, super_cent, path, embeddings=emb)
    # 5 ingest batches of twins -> touched supers accrete >= 6 files
    for g in range(1, 6):
        batch = emb.filter(F.col("vec_id") % 20 == g).select(
            (F.col("vec_id") + 100000 * g).alias("vec_id"), "embedding"
        )
        add_to_ann_index(spark, path, batch)
    members_before = spark.read.parquet(path + "/members")
    n_before = members_before.count()
    rows_before = {
        (r["vec_id"], r["super"], r["child"]) for r in members_before.collect()
    }
    def files_per_super():
        out = {}
        for d in os.listdir(path + "/members"):
            if d.startswith("super="):
                out[d] = sorted(
                    f for f in os.listdir(path + f"/members/{d}")
                    if f.endswith(".parquet")
                )
        return out
    before = files_per_super()
    hot = {d for d, fs in before.items() if len(fs) > 4}
    cold = {d for d, fs in before.items() if len(fs) <= 4}
    assert hot, "construction must produce over-threshold supers"
    queries = emb.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    res_before = {
        tuple(r)
        for r in ann_ivf_hier_topk_persisted(spark, path, None, queries, k=3).collect()
    }
    n_compacted = compact_ann_index(spark, path, max_files_per_partition=4)
    assert n_compacted == len(hot)
    after = files_per_super()
    for d in cold:
        assert after[d] == before[d]  # cold partitions byte-identical
    for d in hot:
        assert len(after[d]) == 1  # folded to one file
    members_after = spark.read.parquet(path + "/members")
    assert members_after.count() == n_before
    assert {
        (r["vec_id"], r["super"], r["child"]) for r in members_after.collect()
    } == rows_before
    res_after = {
        tuple(r)
        for r in ann_ivf_hier_topk_persisted(spark, path, None, queries, k=3).collect()
    }
    assert res_after == res_before
    # idempotent: nothing left over the threshold
    assert compact_ann_index(spark, path, max_files_per_partition=4) == 0


@pytest.mark.slow
def test_persisted_ann_index_pre_r10_layout_fallback(spark, tmp_path):
    """A pre-r10 index layout (no meta/, id-only members) must keep
    answering: read_ann_index_meta falls back to the historical
    defaults and the persisted query path takes the corpus-join rerank
    when handed an embeddings frame."""
    import shutil

    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_ivf_hier_topk_persisted,
        ivf_hier_build,
        persist_ann_index,
        read_ann_index_meta,
    )
    from actuarial_reserve_modelling_spark.sources.tiers import _evict_index_cache

    rng = np.random.default_rng(53)
    pts = rng.standard_normal((300, 16))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(300)], schema
    )
    path = str(tmp_path / "ann_index")
    index, super_cent = ivf_hier_build(emb)
    persist_ann_index(index, super_cent, path)  # id-only layout
    shutil.rmtree(path + "/meta")  # simulate a pre-r10 index
    _evict_index_cache(path)
    meta = read_ann_index_meta(spark, path)
    assert meta["layout_version"] == 1 and not meta["has_vectors"]
    queries = emb.filter(F.col("vec_id") % 30 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    got = {
        tuple(r)
        for r in ann_ivf_hier_topk_persisted(spark, path, emb, queries, k=1).collect()
    }
    assert got == {(s + 100000, s, 1, 1.0) for s in range(0, 300, 30)}


@pytest.mark.slow
def test_persisted_ivfpq_slim_layout_corpus_rerank_parity(spark, tmp_path):
    """persist_ivfpq_index(store_vectors=False): the slim 32x-compressed
    layout must answer identically to the vector-bearing one when the
    rerank is handed the corpus frame, and the corpus-free call must
    fail loudly (no silent wrong answers) on a layout without vectors."""
    import numpy as np
    import pytest
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_ivfpq_topk_persisted,
        persist_ivfpq_index,
    )

    rng = np.random.default_rng(59)
    pts = rng.standard_normal((300, 16))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(300)], schema
    )
    queries = emb.filter(F.col("vec_id") % 30 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    slim = str(tmp_path / "slim")
    full = str(tmp_path / "full")
    persist_ivfpq_index(
        emb, slim, n_centroids=8, m_subspaces=8, n_codes=16, store_vectors=False
    )
    persist_ivfpq_index(emb, full, n_centroids=8, m_subspaces=8, n_codes=16)
    got_slim = {
        tuple(r)
        for r in ann_ivfpq_topk_persisted(
            spark, slim, emb, queries, k=2, nprobe=4, rerank=32
        ).collect()
    }
    got_full = {
        tuple(r)
        for r in ann_ivfpq_topk_persisted(
            spark, full, None, queries, k=2, nprobe=4, rerank=32
        ).collect()
    }
    assert got_slim == got_full
    assert {(s + 100000, s, 1, 1.0) for s in range(0, 300, 30)} <= got_slim
    with pytest.raises(Exception, match="vector-bearing"):
        ann_ivfpq_topk_persisted(
            spark, slim, None, queries, k=2, nprobe=4, rerank=32
        ).collect()


@pytest.mark.slow
def test_persist_ann_index_corpus_mismatch_fails_loudly(spark, tmp_path):
    """r10 ADVICE: persist_ann_index(embeddings=...) must refuse a
    corpus frame that does not match the index — a member id absent
    from the frame aborts the persist (no silently shrunken index), and
    duplicate ids in the frame abort it too (no silently inflated
    one)."""
    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        ivf_hier_build,
        persist_ann_index,
    )

    rng = np.random.default_rng(17)
    pts = rng.standard_normal((300, 8))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(300)], schema
    )
    index, super_cent = ivf_hier_build(emb)
    with pytest.raises(Exception, match="no vector in the passed"):
        persist_ann_index(
            index,
            super_cent,
            str(tmp_path / "idx_missing"),
            embeddings=emb.filter(F.col("vec_id") % 2 == 0),
        )
    with pytest.raises(ValueError, match="duplicate"):
        persist_ann_index(
            index,
            super_cent,
            str(tmp_path / "idx_dup"),
            embeddings=emb.unionByName(emb.filter(F.col("vec_id") < 5)),
        )


@pytest.mark.slow
def test_ann_index_delete_all_leaves_readable_empty_index(spark, tmp_path):
    """r10 ADVICE: a delete that empties the ENTIRE index must leave a
    root whose schema still reads — subsequent load/add paths see a
    well-typed empty index, not an unable-to-infer-schema error — and a
    later add repopulates it."""
    import numpy as np
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_ann_index,
        delete_from_ann_index,
        ivf_hier_build,
        persist_ann_index,
    )

    rng = np.random.default_rng(19)
    pts = rng.standard_normal((200, 8))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(200)], schema
    )
    path = str(tmp_path / "ann_index")
    index, super_cent = ivf_hier_build(emb)
    persist_ann_index(index, super_cent, path, embeddings=emb)
    delete_from_ann_index(spark, path, emb.select("vec_id"))
    members = spark.read.parquet(path + "/members")
    assert members.count() == 0
    assert {"vec_id", "child", "vec", "super"} <= set(members.columns)
    # the empty index accepts a fresh ingest (add reads members/ for the
    # idempotency check — this is the read the marker file keeps alive)
    add_to_ann_index(spark, path, emb.filter(F.col("vec_id") < 50))
    assert spark.read.parquet(path + "/members").count() == 50


@pytest.mark.slow
def test_persisted_dedup_banded_lookup_pruned(spark, tmp_path):
    """r11 banded projection (the l34 move applied to MinHash): the
    persisted tier's lookup side must (a) maintain banded/ rows 1:1
    with fingerprints·bands through persist → add (idempotent retry) →
    delete, (b) answer ``minhash_dedup_against_index_persisted``
    IDENTICALLY to the full-scan operator over the reloaded tier,
    (c) read only the batch's own (band, bpart) partition directories
    (PartitionFilters; files touched ≪ files total for a small batch),
    (d) keep answering after compaction, (e) survive a delete-all
    with a readable empty layout, and (f) keep banded/'s in-file
    (band, bucket) sort through writes and compaction."""
    import glob

    from actuarial_reserve_modelling_spark.operators.dedup import (
        _read_banded_pruned,
        add_to_dedup_index,
        build_dedup_index,
        compact_dedup_index,
        delete_from_dedup_index,
        load_dedup_index,
        minhash_dedup_against_index,
        minhash_dedup_against_index_persisted,
        persist_dedup_index,
        read_dedup_index_meta,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "dedup_index")
    base = build_dedup_index(
        corpus.filter(F.col("doc_id") % 4 != 1), bands=16, rows_per_band=16
    )
    persist_dedup_index(
        base, path, bands=16, rows_per_band=16, n_buckets=16, k_band_parts=16
    )
    meta = read_dedup_index_meta(spark, path)
    assert meta["k_band_parts"] == 16 and meta["layout_version"] == 2
    add_to_dedup_index(spark, path, corpus.filter(F.col("doc_id") % 4 == 1))
    add_to_dedup_index(spark, path, corpus.filter(F.col("doc_id") % 4 == 1))
    # (f) the persist and add files, and their compaction, keep the
    # lookup side's in-file (band, bucket) sort that row-group skipping
    # relies on
    import pyarrow.parquet as pq

    def assert_cell_sorted(files):
        assert files
        for f in files:
            t = pq.read_table(f, columns=["band", "bucket"])
            cells = list(zip(t["band"].to_pylist(), t["bucket"].to_pylist()))
            assert cells == sorted(cells), f

    banded_before = set(glob.glob(path + "/banded/bpart=*/*.parquet"))
    assert_cell_sorted(banded_before)
    compact_dedup_index(spark, path, max_files_per_partition=1)
    assert_cell_sorted(
        set(glob.glob(path + "/banded/bpart=*/*.parquet")) - banded_before
    )
    delete_from_dedup_index(
        spark, path, corpus.filter(F.col("doc_id") % 5 == 1).select("doc_id")
    )
    # (a) banded rows track fingerprints exactly (no dup/orphan rows)
    n_fp = spark.read.parquet(path + "/fingerprints").count()
    assert spark.read.parquet(path + "/banded").count() == n_fp * 16
    # (b) pruned lookup == full-scan twin, exactly
    full = {
        tuple(r)
        for r in minhash_dedup_against_index(
            new, load_dedup_index(spark, path), threshold=0.95,
            bands=16, rows_per_band=16,
        ).collect()
    }
    pruned = {
        tuple(r)
        for r in minhash_dedup_against_index_persisted(
            spark, path, new, threshold=0.95
        ).collect()
    }
    assert pruned == full and len(full) > 0
    # (c) a small batch's banded read is partition-pruned
    tiny = build_dedup_index(
        docs.filter(F.col("doc_id") % 97 == 0), bands=16, rows_per_band=16
    )
    from actuarial_reserve_modelling_spark.operators.dedup import _banded_projection

    bparts = [
        int(r["bpart"])
        for r in _banded_projection(tiny, 16, 16, 16)
        .select("bpart")
        .distinct()
        .collect()
    ]
    touched = {
        r["f"]
        for r in _read_banded_pruned(spark, path, bparts)
        .select(F.col("_metadata.file_path").alias("f"))
        .distinct()
        .collect()
    }
    total = glob.glob(path + "/banded/bpart=*/*.parquet")
    assert len(total) > 0
    # every touched file lives in one of the batch's own bpart dirs
    assert {f.split("bpart=")[1].split("/")[0] for f in touched} <= {
        str(b) for b in bparts
    }
    plan = _read_banded_pruned(spark, path, bparts)._jdf.queryExecution()
    assert "PartitionFilters" in plan.executedPlan().toString()
    # (d) compaction preserves answers
    compact_dedup_index(spark, path, max_files_per_partition=1)
    assert {
        tuple(r)
        for r in minhash_dedup_against_index_persisted(
            spark, path, new, threshold=0.95
        ).collect()
    } == full
    # (e) delete-all leaves a readable empty tier that accepts re-adds
    delete_from_dedup_index(
        spark, path, spark.read.parquet(path + "/fingerprints").select("doc_id")
    )
    assert spark.read.parquet(path + "/fingerprints").count() == 0
    assert spark.read.parquet(path + "/banded").count() == 0
    add_to_dedup_index(spark, path, corpus.filter(F.col("doc_id") % 4 == 1))
    n_re = spark.read.parquet(path + "/fingerprints").count()
    assert n_re > 0
    assert spark.read.parquet(path + "/banded").count() == n_re * 16


def test_mine_hard_negatives_excludes_self_and_positive(spark):
    from actuarial_reserve_modelling_spark.operators.similarity import (
        mine_hard_negatives,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    anchors = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding", (F.col("vec_id") + 100000).alias("positive_id")
    )
    out = mine_hard_negatives(corpus, anchors, k=5, margin=0.05).collect()
    assert out, "expected at least one mined triplet"
    for r in out:
        assert r["negative_id"] != r["anchor_id"]
        assert r["negative_id"] != r["positive_id"]
        # twin positives are exact duplicates: pos_sim is 1.0
        assert r["pos_sim"] == 1.0
        # denoise contract: every surfaced negative respects the margin
        assert r["neg_sim"] <= r["pos_sim"] - 0.05
        assert 1 <= r["rank"] <= 5


@pytest.mark.slow
def test_mine_hard_negatives_margin_binds_and_can_empty(spark):
    from actuarial_reserve_modelling_spark.operators.similarity import (
        mine_hard_negatives,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    anchors = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding", (F.col("vec_id") + 100000).alias("positive_id")
    )
    loose = mine_hard_negatives(corpus, anchors, k=3, margin=0.0)
    tight = mine_hard_negatives(corpus, anchors, k=3, margin=0.6)
    # the margin binds on MEMBERSHIP, not count: anchors refill their
    # top-3 from below the cutoff, so compare the picked sets and the
    # ceiling (loose tops out ~0.45 on this corpus, above 1.0-0.6)
    assert loose.agg(F.max("neg_sim")).first()[0] > 0.4
    assert tight.agg(F.max("neg_sim")).first()[0] <= 0.4
    assert loose.exceptAll(tight).count() > 0, "0.6 margin must change the picks"
    # margin 2.0: cosine can never sit 2 below the positive -> empty
    assert mine_hard_negatives(corpus, anchors, k=3, margin=2.0).count() == 0
    # anchors whose positive id is absent from the corpus emit nothing
    orphan = anchors.withColumn("positive_id", F.col("positive_id") + 7_000_000)
    assert mine_hard_negatives(corpus, orphan, k=3, margin=0.0).count() == 0


def test_mine_hard_negatives_candidates_path_matches_bruteforce(spark):
    from actuarial_reserve_modelling_spark.operators.similarity import (
        mine_hard_negatives,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    anchors = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding", (F.col("vec_id") + 100000).alias("positive_id")
    )
    # candidate set = the FULL cross product => identical answer to the
    # brute-force path (the ANN path feeds a subset of this frame)
    cand = anchors.select(F.col("vec_id").alias("anchor_id")).crossJoin(
        corpus.select(F.col("vec_id").alias("cand_id"))
    )
    brute = mine_hard_negatives(corpus, anchors, k=3, margin=0.05)
    viacand = mine_hard_negatives(corpus, anchors, k=3, margin=0.05, candidates=cand)
    assert brute.exceptAll(viacand).count() == 0
    assert viacand.exceptAll(brute).count() == 0


@pytest.mark.slow
def test_bounded_query_batch_contract_enforced(spark):
    """r13 verdict #5: the exact/ADC query tails hold the query batch on
    the driver by contract, and the contract must fail LOUDLY (naming
    the persisted ANN path) instead of OOMing when a too-large batch is
    passed. Tiny max_query_rows triggers the guard cheaply."""
    import pytest

    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_ivfpq_topk,
        ann_pq_topk,
        cosine_topk,
        mine_hard_negatives,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 10)
    with pytest.raises(ValueError, match="bounded-query-batch"):
        cosine_topk(emb, queries, k=1, max_query_rows=3)
    with pytest.raises(ValueError, match="ann_ivf_hier_topk_persisted"):
        ann_pq_topk(emb, queries, k=1, max_query_rows=3)
    with pytest.raises(ValueError, match="bounded-query-batch"):
        ann_ivfpq_topk(emb, queries, k=1, max_query_rows=3)
    anchors = queries.select(
        "vec_id", "embedding", (F.col("vec_id") + 1).alias("positive_id")
    )
    with pytest.raises(ValueError, match="mine_hard_negatives"):
        mine_hard_negatives(emb, anchors, k=1, max_query_rows=3)
    from actuarial_reserve_modelling_spark.operators.similarity import cosine_pairs

    with pytest.raises(ValueError, match="lsh_cosine_pairs"):
        cosine_pairs(emb, threshold=0.9, max_rows=3)
    import tempfile

    from actuarial_reserve_modelling_spark.operators.similarity import (
        ann_ivf_hier_topk_persisted,
        ivf_hier_build,
        persist_ann_index,
    )

    path = tempfile.mkdtemp(prefix="arm_guard_") + "/idx"
    index, sup = ivf_hier_build(emb)
    persist_ann_index(index, sup, path, embeddings=emb)
    with pytest.raises(ValueError, match="bounded-query-batch"):
        ann_ivf_hier_topk_persisted(spark, path, None, queries, k=1, max_query_rows=3)
    assert (
        ann_ivf_hier_topk_persisted(spark, path, None, queries, k=1).count() == 10
    )
    # within the bound (and with the default) the paths run unchanged
    assert cosine_topk(emb, queries, k=1, max_query_rows=10).count() == 10
    assert cosine_topk(emb, queries, k=1).count() == 10


def test_mine_hard_negatives_candidates_path_no_forced_broadcast(spark):
    """The candidates path is the corpus-scale shape: the anchor set is
    unbounded there, so the pos_sim side must NOT carry a forced
    broadcast hint (r13 verdict #2 — a forced hint grows past the
    broadcast ceiling and OOMs where AQE would pick a shuffle join).
    The exact path keeps the hint (bounded-query-batch contract)."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        mine_hard_negatives,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    anchors = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding", (F.col("vec_id") + 1).alias("positive_id")
    )
    cand = anchors.select(F.col("vec_id").alias("anchor_id")).crossJoin(
        emb.select(F.col("vec_id").alias("cand_id"))
    )
    viacand = mine_hard_negatives(emb, anchors, k=3, margin=0.05, candidates=cand)
    # the candidate cross-join itself is hint-free in this test, so ANY
    # ResolvedHint in the analyzed plan would be ours on pos
    analyzed = viacand._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    brute = mine_hard_negatives(emb, anchors, k=3, margin=0.05)
    assert "ResolvedHint" in brute._jdf.queryExecution().analyzed().toString()


@pytest.mark.slow
def test_vecsig_tier_lifecycle_and_pruned_parity(spark, tmp_path):
    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_vecsig_index,
        compact_vecsig_index,
        delete_from_vecsig_index,
        load_vecsig_index,
        lsh_cosine_dedup_against_index,
        lsh_cosine_dedup_against_index_persisted,
        persist_vecsig_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "vecsig")
    persist_vecsig_index(emb.filter(F.col("vec_id") % 4 != 1), path)
    add_to_vecsig_index(spark, path, emb.filter(F.col("vec_id") % 4 == 1))
    delete_from_vecsig_index(
        spark, path, emb.filter(F.col("vec_id") % 4 == 2).select("vec_id")
    )
    batch = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    pruned = {
        (r["new_id"], r["index_id"], r["sim"])
        for r in lsh_cosine_dedup_against_index_persisted(
            spark, path, batch, threshold=0.9
        ).collect()
    }
    # parity: the pruned path answers EXACTLY like the in-memory
    # operator over the reloaded tier (pruning changes reads, never
    # the candidate algebra)
    sig_idx, vec_idx = load_vecsig_index(spark, path)
    full = {
        (r["new_id"], r["index_id"], r["sim"])
        for r in lsh_cosine_dedup_against_index(
            batch, sig_idx, vec_idx, threshold=0.9
        ).collect()
    }
    assert pruned == full
    # planted expectation: every surviving source pairs with its twin
    n = emb.count()
    expect = {
        (s + 100000, s, 1.0) for s in range(0, n, 5) if s % 4 != 2
    }
    assert pruned == expect
    # idempotent re-add changes nothing; compaction preserves answers
    add_to_vecsig_index(spark, path, emb.filter(F.col("vec_id") % 4 == 1))
    compact_vecsig_index(spark, path, max_files_per_partition=1)
    again = {
        (r["new_id"], r["index_id"], r["sim"])
        for r in lsh_cosine_dedup_against_index_persisted(
            spark, path, batch, threshold=0.9
        ).collect()
    }
    assert again == expect


@pytest.mark.slow
def test_vecsig_tier_delete_all_and_missing_meta(spark, tmp_path):
    import pytest as _pytest

    from actuarial_reserve_modelling_spark.operators.dedup import (
        add_to_dedup_index,
        build_dedup_index,
        delete_from_dedup_index,
        load_dedup_index,
        minhash_dedup_against_index_persisted,
        persist_dedup_index,
    )
    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_vecsig_index,
        delete_from_vecsig_index,
        lsh_cosine_dedup_against_index_persisted,
        persist_vecsig_index,
        read_vecsig_index_meta,
    )

    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 40)
    )
    path = str(tmp_path / "vecsig_small")
    # missing meta raises loudly, and the failure is not cached
    with _pytest.raises(Exception, match="persist_vecsig_index first"):
        read_vecsig_index_meta(spark, path)
    persist_vecsig_index(emb, path)
    assert read_vecsig_index_meta(spark, path)["num_tables"] == 24
    # deleting every row leaves a readable empty tier
    delete_from_vecsig_index(spark, path, emb.select("vec_id"))
    batch = emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    assert (
        lsh_cosine_dedup_against_index_persisted(spark, path, batch).count() == 0
    )
    # and a later add repopulates it
    add_to_vecsig_index(spark, path, emb)
    out = lsh_cosine_dedup_against_index_persisted(spark, path, batch)
    assert out.count() == emb.count()
    # the dedup tier's delete-all shape: banded/ and fingerprints/ both
    # emptied, the pruned lookup answers empty and a later add repopulates
    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 20)
    dpath = str(tmp_path / "dedup_small")
    persist_dedup_index(build_dedup_index(docs), dpath)
    delete_from_dedup_index(spark, dpath, docs.select("doc_id"))
    assert spark.read.parquet(dpath + "/fingerprints").count() == 0
    assert spark.read.parquet(dpath + "/banded").count() == 0
    twins = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")

    def lookup():
        return minhash_dedup_against_index_persisted(
            spark, dpath, twins, route="pruned"
        )

    assert lookup().count() == 0
    add_to_dedup_index(spark, dpath, docs)
    indexed = {r["doc_id"] for r in load_dedup_index(spark, dpath).collect()}
    assert indexed and {r["new_id"] - 100000 for r in lookup().collect()} == indexed


def test_vecsig_persist_rejects_duplicate_ids(spark, tmp_path):
    import pytest as _pytest

    from actuarial_reserve_modelling_spark.operators.similarity import (
        persist_vecsig_index,
    )

    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 20)
    )
    dup = emb.unionByName(emb.limit(3))
    with _pytest.raises(ValueError, match="duplicate vec_id"):
        persist_vecsig_index(dup, str(tmp_path / "dup_idx"))


def test_mine_hard_negatives_multi_positive_anchor_pair_semantics(spark):
    """r12 ADVICE fix: an anchor listed with SEVERAL positives must be
    mined per (anchor, positive) PAIR — each pair carries its own
    pos_sim (margin filter) and its own k ranked slots. Pre-fix, the
    pos broadcast joined on anchor_id alone, cross-multiplying scored
    rows with the OTHER positive's pos_sim and making the duplicated
    rows share one anchor's k slots."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        mine_hard_negatives,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    a0 = emb.filter(F.col("vec_id") % 10 == 0)
    # positive A: an exact twin (pos_sim 1.0); positive B: the anchor's
    # own vector negated (pos_sim -1.0) — maximally different pos_sims
    twin = a0.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    neg = a0.select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    corpus = emb.unionByName(twin).unionByName(neg)
    anchors = a0.select(
        "vec_id", "embedding", (F.col("vec_id") + 100000).alias("positive_id")
    ).unionByName(
        a0.select(
            "vec_id", "embedding", (F.col("vec_id") + 200000).alias("positive_id")
        )
    )
    out = mine_hard_negatives(corpus, anchors, k=3, margin=0.05)
    rows = out.collect()
    assert rows
    by_pair = {}
    for r in rows:
        by_pair.setdefault((r["anchor_id"], r["positive_id"]), []).append(r)
        # each pair sees ITS positive's sim, not the other pair's
        if r["positive_id"] >= 200000:
            assert r["pos_sim"] == -1.0
        else:
            assert r["pos_sim"] == 1.0
        assert r["neg_sim"] <= r["pos_sim"] - 0.05
        assert r["negative_id"] not in (r["anchor_id"], r["positive_id"])
    # twin-positive pairs (pos_sim 1.0, margin 0.05) keep their full
    # k=3 slots — the duplicated-anchor rows may not consume them
    twin_pairs = [p for p in by_pair if p[1] < 200000]
    assert twin_pairs
    for p in twin_pairs:
        ranks = sorted(r["rank"] for r in by_pair[p])
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(ranks) == 3
    # pos_sim -1.0 pairs can admit nothing (nothing sits 0.05 below -1)
    assert all(p[1] < 200000 for p in by_pair)


@pytest.mark.slow
def test_dedup_lookup_adaptive_routing_parity_and_stats(spark, tmp_path):
    """r12: the persisted dedup lookup routes pruned-vs-full from the
    tier's advisory stats/ — answers must be identical on BOTH sides of
    the threshold, and persist/add/delete must maintain the count."""
    from actuarial_reserve_modelling_spark.operators import dedup as D
    from actuarial_reserve_modelling_spark.sources.tiers import (
        _INDEX_STATS_CACHE,
        read_index_stats,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    path = str(tmp_path / "didx")
    D.persist_dedup_index(
        D.build_dedup_index(corpus, bands=8, rows_per_band=4),
        path,
        bands=8,
        rows_per_band=4,
    )
    n0 = read_index_stats(spark, path)
    assert n0 == corpus.count()
    pruned = D.minhash_dedup_against_index_persisted(
        spark, path, batch, threshold=0.8, route="pruned"
    )
    full = D.minhash_dedup_against_index_persisted(
        spark, path, batch, threshold=0.8, route="full"
    )
    assert pruned.count() > 0
    assert pruned.exceptAll(full).count() == 0
    assert full.exceptAll(pruned).count() == 0
    # auto matches too, on both sides of the crossover (flip the
    # factor instead of building a 512k corpus)
    old = D._DEDUP_ROUTE_CELLS_FACTOR
    try:
        D._DEDUP_ROUTE_CELLS_FACTOR = 0  # auto -> pruned
        lo = D.minhash_dedup_against_index_persisted(
            spark, path, batch, threshold=0.8, route="auto"
        )
        D._DEDUP_ROUTE_CELLS_FACTOR = 10**9  # auto -> full
        hi = D.minhash_dedup_against_index_persisted(
            spark, path, batch, threshold=0.8, route="auto"
        )
        assert lo.exceptAll(hi).count() == 0
        assert hi.exceptAll(lo).count() == 0
        assert lo.exceptAll(full).count() == 0
    finally:
        D._DEDUP_ROUTE_CELLS_FACTOR = old
    # stats maintenance: add increments by the appended rows, delete
    # decrements by the removed rows; cache evicts on each update
    extra = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 700000).alias("doc_id"), "text"
    )
    D.add_to_dedup_index(spark, path, extra)
    n1 = read_index_stats(spark, path)
    assert n1 == n0 + extra.count()
    D.delete_from_dedup_index(
        spark, path, extra.select("doc_id").limit(10)
    )
    assert read_index_stats(spark, path) == n1 - 10
    # unknown stats (pre-r12 tier) must not break the lookup: nuke
    # stats/ and the pruned path still answers
    import shutil

    _INDEX_STATS_CACHE.pop(path, None)
    shutil.rmtree(path + "/stats")
    assert read_index_stats(spark, path) is None
    again = D.minhash_dedup_against_index_persisted(
        spark, path, batch, threshold=0.8, route="auto"
    )
    assert again.exceptAll(
        D.minhash_dedup_against_index_persisted(
            spark, path, batch, threshold=0.8, route="pruned"
        )
    ).count() == 0


@pytest.mark.slow
def test_vecsig_lookup_adaptive_routing_parity_and_stats(spark, tmp_path):
    """Vector-tier twin of the dedup routing test."""
    from actuarial_reserve_modelling_spark.operators import similarity as S

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 3 != 0)
    # exact twins of indexed vectors (re-keyed) — identical vectors
    # collide in every table, so the lookup is guaranteed non-empty
    batch = corpus.filter(F.col("vec_id") % 5 == 1).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    path = str(tmp_path / "vidx")
    S.persist_vecsig_index(corpus, path)
    n0 = S.read_index_stats(spark, path)
    assert n0 == corpus.count()
    pruned = S.lsh_cosine_dedup_against_index_persisted(
        spark, path, batch, threshold=0.5, route="pruned"
    )
    full = S.lsh_cosine_dedup_against_index_persisted(
        spark, path, batch, threshold=0.5, route="full"
    )
    assert pruned.count() > 0
    assert pruned.exceptAll(full).count() == 0
    assert full.exceptAll(pruned).count() == 0
    old = S._VECSIG_ROUTE_CELLS_FACTOR
    try:
        S._VECSIG_ROUTE_CELLS_FACTOR = 0
        lo = S.lsh_cosine_dedup_against_index_persisted(
            spark, path, batch, threshold=0.5, route="auto"
        )
        S._VECSIG_ROUTE_CELLS_FACTOR = 10**9
        hi = S.lsh_cosine_dedup_against_index_persisted(
            spark, path, batch, threshold=0.5, route="auto"
        )
        assert lo.exceptAll(hi).count() == 0
        assert hi.exceptAll(lo).count() == 0
    finally:
        S._VECSIG_ROUTE_CELLS_FACTOR = old
    # stats maintenance across add + delete
    extra = emb.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 700000).alias("vec_id"), "embedding"
    )
    S.add_to_vecsig_index(spark, path, extra)
    n1 = S.read_index_stats(spark, path)
    assert n1 == n0 + extra.count()
    S.delete_from_vecsig_index(spark, path, extra.select("vec_id").limit(7))
    assert S.read_index_stats(spark, path) == n1 - 7


def test_unit_normalize_kernel_matches_hof_bitwise(spark):
    """r14: ivf_cosine_pairs' unit projection moved from the interpreted
    transform/aggregate HOF pair to an Arrow kernel — the kernel must
    reproduce the fold BITWISE for both element storage types (float32
    squares round before the f64 accumulation; float64 squares do not),
    drop zero-norm vectors, and drop null vectors like a NULL sq did."""
    from pyspark.sql import types as T

    from actuarial_reserve_modelling_spark.operators.similarity import (
        _unit_normalize,
    )

    def hof_unit(df):
        sq = F.aggregate(
            F.transform("embedding", lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return df.filter(sq > 0).select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: x.cast("double") / F.sqrt(F.greatest(sq, F.lit(1e-300))),
            ).alias("embedding"),
        )

    def diffs(df):
        a = hof_unit(df).select("vec_id", F.xxhash64("embedding").alias("h"))
        b = _unit_normalize(df, "vec_id", "embedding").select(
            "vec_id", F.xxhash64("embedding").alias("h")
        )
        n_a, n_b = a.count(), b.count()
        assert n_a == n_b
        return a.alias("a").join(b.alias("b"), "vec_id").filter("a.h != b.h").count()

    # float32 storage (the parquet corpora) — includes a planted twin
    emb32 = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    assert diffs(emb32) == 0

    # float64 storage (createDataFrame callers) + zero and null rows
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(50)]
    rows.append((100, [0.0] * 8))  # zero norm: dropped by both forms
    rows.append((101, None))  # null vector: dropped by both forms
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb64 = spark.createDataFrame(rows, schema)
    assert diffs(emb64) == 0
    assert _unit_normalize(emb64, "vec_id", "embedding").count() == 50


@pytest.mark.slow
def test_presigned_dedup_batch_shared_across_lookup_and_append(spark, tmp_path):
    """r14: the ingest gate signs its batch once and shares the frame
    between the cross-batch check and the tier append. Pin (a) the
    presigned lookup answers identically to the self-signing path,
    (b) an append fed a presigned SUPERSET frame (semi-joined to the
    committed ids) writes a tier byte-identical in content to the
    re-signing append, and (c) a frame signed with foreign parameters
    fails loudly in both consumers instead of corrupting the tier."""
    from actuarial_reserve_modelling_spark.operators.dedup import (
        add_to_dedup_index,
        build_dedup_index,
        minhash_dedup_against_index_persisted,
        persist_dedup_index,
        read_dedup_index_meta,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    committed = new.filter(F.col("doc_id") % 2 == 0)  # strict subset

    def fresh_tier(sub: str) -> str:
        path = str(tmp_path / sub)
        persist_dedup_index(
            build_dedup_index(corpus, bands=16, rows_per_band=16),
            path,
            bands=16,
            rows_per_band=16,
            n_buckets=16,
            k_band_parts=16,
        )
        return path

    path_a = fresh_tier("tier_resign")
    path_b = fresh_tier("tier_presigned")
    meta = read_dedup_index_meta(spark, path_a)
    signed = build_dedup_index(
        new,
        bands=meta["bands"],
        rows_per_band=meta["rows_per_band"],
        seed=meta["seed"],
    ).localCheckpoint(eager=True)

    # (a) lookup parity, both routes
    for route in ("pruned", "full"):
        base = minhash_dedup_against_index_persisted(
            spark, path_a, new, threshold=0.9, route=route
        )
        pre = minhash_dedup_against_index_persisted(
            spark, path_a, new, threshold=0.9, route=route, presigned=signed
        )
        key = lambda r: (r["new_id"], r["index_id"], r["jac"])
        assert sorted(map(key, base.collect())) == sorted(map(key, pre.collect()))

    # (b) append parity: presigned superset vs re-sign of the subset
    add_to_dedup_index(spark, path_a, committed)
    add_to_dedup_index(spark, path_b, committed, presigned=signed)
    for sub in ("/fingerprints", "/banded"):
        a = spark.read.parquet(path_a + sub)
        b = spark.read.parquet(path_b + sub)
        cols = sorted(a.columns)
        assert sorted(map(tuple, a.select(*cols).collect())) == sorted(
            map(tuple, b.select(*cols).collect())
        )

    # (c) foreign-parameter frames fail loudly in both consumers
    wrong = build_dedup_index(new, bands=8, rows_per_band=8).localCheckpoint(
        eager=True
    )
    with pytest.raises(ValueError, match="signed with DIFFERENT parameters"):
        add_to_dedup_index(spark, path_a, committed, presigned=wrong)
    with pytest.raises(ValueError, match="signed with DIFFERENT parameters"):
        minhash_dedup_against_index_persisted(
            spark, path_a, new, threshold=0.9, presigned=wrong
        )
    # without the stamp, the signature-length probe still rejects it
    with pytest.raises(ValueError, match="presigned sig length"):
        add_to_dedup_index(spark, path_a, committed, presigned=_unstamped(wrong))
    with pytest.raises(ValueError, match="presigned sig length"):
        minhash_dedup_against_index_persisted(
            spark, path_a, new, threshold=0.9, presigned=_unstamped(wrong)
        )


def test_dedup_clusters_star_forest_input_skips_rounds(spark, monkeypatch):
    """r14 structural convergence: an input that is already a star
    forest (the common gate-batch shape — disjoint pairs) must produce
    its clusters WITHOUT running any large-star/small-star round, and
    a non-trivial graph must still converge to the same answer as the
    signature-only loop did (pinned against union-find elsewhere)."""
    from actuarial_reserve_modelling_spark.operators import dedup as D

    calls = {"n": 0}
    orig = D._large_star

    def counting(edges):
        calls["n"] += 1
        return orig(edges)

    monkeypatch.setattr(D, "_large_star", counting)

    # disjoint pairs + an explicit star (1 -> 2,3,4): zero rounds
    pairs = spark.createDataFrame(
        [(10, 11), (20, 21), (1, 2), (1, 3), (1, 4)], "d1 long, d2 long"
    )
    got = {r["doc_id"]: r["rep_id"] for r in D.dedup_clusters(pairs).collect()}
    assert got == {10: 10, 11: 10, 20: 20, 21: 20, 1: 1, 2: 1, 3: 1, 4: 1}
    assert calls["n"] == 0

    # a chain needs rounds and still converges to the component min
    calls["n"] = 0
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "d1 long, d2 long"
    )
    got = {r["doc_id"]: r["rep_id"] for r in D.dedup_clusters(chain).collect()}
    assert got == {i: 1 for i in range(1, 10)}
    assert calls["n"] >= 1


@pytest.mark.slow
def test_presigned_vecsig_batch_shared_across_lookup_and_append(spark, tmp_path):
    """r14, vector twin of the dedup presigned test: the semantic
    ingest gate signs its batch once and shares the frame between the
    cross-batch check and the tier append. Pin lookup parity (both
    routes), append parity from a presigned SUPERSET frame, and the
    loud failure on foreign-parameter frames."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_vecsig_index,
        hyperplane_signatures_multi,
        lsh_cosine_dedup_against_index_persisted,
        persist_vecsig_index,
        read_vecsig_index_meta,
        vecsig_spart as _vecsig_spart,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 3 != 0)
    new = emb.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    )
    committed = new.filter(F.col("vec_id") % 2 == 0)  # strict subset

    def fresh_tier(sub: str) -> str:
        path = str(tmp_path / sub)
        persist_vecsig_index(corpus, path)
        return path

    path_a = fresh_tier("tier_resign")
    path_b = fresh_tier("tier_presigned")
    meta = read_vecsig_index_meta(spark, path_a)
    signed = (
        hyperplane_signatures_multi(
            new, meta["num_planes"], meta["num_tables"], meta["seed"], meta["dim"]
        )
        .withColumn("spart", _vecsig_spart(meta["k_sig_parts"]))
        .localCheckpoint(eager=True)
    )

    for route in ("pruned", "full"):
        base = lsh_cosine_dedup_against_index_persisted(
            spark, path_a, new, threshold=0.5, route=route
        )
        pre = lsh_cosine_dedup_against_index_persisted(
            spark, path_a, new, threshold=0.5, route=route, presigned=signed
        )
        key = lambda r: (r["new_id"], r["index_id"], r["sim"])
        assert sorted(map(key, base.collect())) == sorted(map(key, pre.collect()))

    add_to_vecsig_index(spark, path_a, committed)
    add_to_vecsig_index(spark, path_b, committed, presigned=signed)
    for sub in ("/sigs", "/vectors"):
        a = spark.read.parquet(path_a + sub)
        b = spark.read.parquet(path_b + sub)
        cols = sorted(a.columns)
        assert sorted(map(tuple, a.select(*cols).collect())) == sorted(
            map(tuple, b.select(*cols).collect())
        )

    wrong = (
        hyperplane_signatures_multi(
            new, meta["num_planes"], meta["num_tables"] // 2, meta["seed"], meta["dim"]
        )
        .withColumn("spart", _vecsig_spart(meta["k_sig_parts"]))
        .localCheckpoint(eager=True)
    )
    with pytest.raises(ValueError, match="signed with DIFFERENT parameters"):
        add_to_vecsig_index(spark, path_a, committed, presigned=wrong)
    with pytest.raises(ValueError, match="signed with DIFFERENT parameters"):
        lsh_cosine_dedup_against_index_persisted(
            spark, path_a, new, threshold=0.5, presigned=wrong
        )
    # without the stamp, the table-count probe still rejects it
    with pytest.raises(ValueError, match="signature tables"):
        add_to_vecsig_index(spark, path_a, committed, presigned=_unstamped(wrong))
    with pytest.raises(ValueError, match="signature tables"):
        lsh_cosine_dedup_against_index_persisted(
            spark, path_a, new, threshold=0.5, presigned=_unstamped(wrong)
        )
    with pytest.raises(ValueError, match="spart"):
        add_to_vecsig_index(
            spark, path_a, committed, presigned=signed.drop("spart")
        )


@pytest.mark.slow
def test_presigned_params_hash_rejects_same_shape_different_seed(spark, tmp_path):
    """r15 guard hardening (r14 verdict "what's wrong" #4): a frame
    signed with the SAME signature shape (bands x rows / table count)
    but a DIFFERENT seed passed the structural probes and would have
    silently corrupted the tier. The signing kernels now stamp a
    params-hash into the sig column's metadata and every presigned
    accept site checks it against the tier's persisted parameters —
    all five sites must fail loudly on a same-shape/different-seed
    frame."""
    from actuarial_reserve_modelling_spark.operators.dedup import (
        add_to_dedup_index,
        build_dedup_index,
        minhash_dedup_against_index_persisted,
        persist_dedup_index,
    )
    from actuarial_reserve_modelling_spark.operators.similarity import (
        add_to_vecsig_index,
        hyperplane_signatures_multi,
        lsh_cosine_dedup_against_index_persisted,
        persist_vecsig_index,
        read_vecsig_index_meta,
        vecsig_spart as _vecsig_spart,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    dpath = str(tmp_path / "dedup_tier")
    persist_dedup_index(
        build_dedup_index(corpus, bands=16, rows_per_band=16),
        dpath,
        bands=16,
        rows_per_band=16,
        n_buckets=16,
        k_band_parts=16,
    )
    # same bands*rows (sig length 256) — only the seed differs
    wrong = build_dedup_index(
        new, bands=16, rows_per_band=16, seed=7
    ).localCheckpoint(eager=True)
    with pytest.raises(ValueError, match="DIFFERENT parameters"):
        add_to_dedup_index(spark, dpath, new, presigned=wrong)
    with pytest.raises(ValueError, match="DIFFERENT parameters"):
        minhash_dedup_against_index_persisted(
            spark, dpath, new, threshold=0.9, presigned=wrong
        )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    vcorpus = emb.filter(F.col("vec_id") % 3 != 0)
    vnew = emb.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    )
    vpath = str(tmp_path / "vecsig_tier")
    persist_vecsig_index(vcorpus, vpath)
    meta = read_vecsig_index_meta(spark, vpath)
    vwrong = (
        hyperplane_signatures_multi(
            vnew, meta["num_planes"], meta["num_tables"], meta["seed"] + 1,
            meta["dim"],
        )
        .withColumn("spart", _vecsig_spart(meta["k_sig_parts"]))
        .localCheckpoint(eager=True)
    )
    with pytest.raises(ValueError, match="DIFFERENT parameters"):
        add_to_vecsig_index(spark, vpath, vnew, presigned=vwrong)
    with pytest.raises(ValueError, match="DIFFERENT parameters"):
        lsh_cosine_dedup_against_index_persisted(
            spark, vpath, vnew, threshold=0.5, presigned=vwrong
        )
    with pytest.raises(ValueError, match="DIFFERENT parameters"):
        persist_vecsig_index(
            vnew,
            str(tmp_path / "vecsig_boot"),
            num_planes=meta["num_planes"],
            num_tables=meta["num_tables"],
            seed=meta["seed"],
            dim=meta["dim"],
            presigned=vwrong,
        )


def test_minhash_near_dup_local_parity(spark):
    """The driver-resident near-dup helper of the t11 gate must return
    (a) the exact pairs of the Spark operator, (b) signed rep rows
    bitwise-equal to build_dedup_index restricted to the rep ids and
    (c) min-id components equal to a union-find over those pairs."""
    from actuarial_reserve_modelling_spark.operators.dedup import (
        HTOK,
        build_dedup_index,
        minhash_near_dup_local,
        minhash_near_dup_pairs,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    base = sorted(map(tuple, minhash_near_dup_pairs(docs, threshold=0.9).collect()))
    rows = [
        (r["doc_id"], list(r["htok"]))
        for r in docs.select("doc_id", F.expr(HTOK).alias("htok")).collect()
    ]
    near = minhash_near_dup_local(rows, threshold=0.9)
    # the Spark operator's pair expansion: each verified rep pair to its
    # groups' members, plus every group's own pairs at 1.0
    pairs = [
        (min(x, y), max(x, y), jac)
        for r1, r2, jac in near.verified
        for x in near.members[r1]
        for y in near.members[r2]
    ]
    for ids in near.members.values():
        pairs.extend((x, y, 1.0) for i, x in enumerate(ids) for y in ids[i + 1 :])
    assert base and sorted(pairs) == base

    reps = {d for d, _, _ in near.signed}
    key = lambda r: (r[0], tuple(r[1]), tuple(r[2]))
    ref = [
        key((r["doc_id"], r["htok"], r["sig"]))
        for r in build_dedup_index(docs).collect()
        if r["doc_id"] in reps
    ]
    assert sorted(map(key, near.signed)) == sorted(ref)

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for d1, d2, _ in base:
        x, y = find(d1), find(d2)
        parent[max(x, y)] = min(x, y)
    got = near.reps()
    assert {d: find(d) for d in parent} == {d: got[d] for d in parent}


def test_lsh_cosine_pairs_with_index_parity(spark):
    """``lsh_cosine_pairs_with_index`` against its two references:
    identical pairs, and a signature frame bitwise-equal to
    hyperplane_signatures_multi under the same parameters."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        hyperplane_signatures_multi,
        lsh_cosine_pairs,
        lsh_cosine_pairs_with_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    base = sorted(map(tuple, lsh_cosine_pairs(emb, threshold=0.5).collect()))
    pairs, sigs = lsh_cosine_pairs_with_index(emb, threshold=0.5)
    assert sorted(map(tuple, pairs.collect())) == base
    ref = hyperplane_signatures_multi(emb, 12, 24, 42, 64)
    assert sorted(map(tuple, sigs.collect())) == sorted(map(tuple, ref.collect()))


def test_persist_vecsig_presigned_parity(spark, tmp_path):
    """r14: the semantic gate's bootstrap feeds its within-batch
    signature frame to persist_vecsig_index. Pin that a presigned
    SUPERSET frame persists a tier identical in content to the
    self-signing persist, and that foreign-parameter frames fail."""
    from actuarial_reserve_modelling_spark.operators.similarity import (
        hyperplane_signatures_multi,
        persist_vecsig_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    admitted = emb.filter(F.col("vec_id") % 2 == 0)  # strict subset
    signed = hyperplane_signatures_multi(emb, 12, 24, 42, 64).localCheckpoint(
        eager=True
    )

    path_a = str(tmp_path / "tier_resign")
    path_b = str(tmp_path / "tier_presigned")
    persist_vecsig_index(admitted, path_a)
    persist_vecsig_index(admitted, path_b, presigned=signed)
    for sub in ("/sigs", "/vectors", "/meta"):
        a = spark.read.parquet(path_a + sub)
        b = spark.read.parquet(path_b + sub)
        cols = sorted(a.columns)
        assert sorted(map(tuple, a.select(*cols).collect())) == sorted(
            map(tuple, b.select(*cols).collect())
        )

    wrong = hyperplane_signatures_multi(emb, 12, 12, 42, 64)
    with pytest.raises(ValueError, match="signed with DIFFERENT parameters"):
        persist_vecsig_index(
            admitted, str(tmp_path / "tier_bad"), presigned=wrong
        )
    # without the stamp, the table-count probe still rejects it
    with pytest.raises(ValueError, match="signature tables"):
        persist_vecsig_index(
            admitted, str(tmp_path / "tier_bad"), presigned=_unstamped(wrong)
        )


def test_minhash_rowloop_matches_broadcast(spark):
    """r14 kernel rewrite: the fused per-hash row loop in
    _signatures_from_hashed must be bit-identical to the original
    broadcast formulation a[:,None]*base[None,:]+b[:,None] (u64
    wraparound arithmetic is per-element, so loop order cannot change
    any signature — this pins that the rewrite preserved the exact
    draws, the empty-doc zero rows, and the min-over-set semantics)."""
    import numpy as np

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f g h"),
            Row(doc_id=2, text="a b c d e f g z extra tokens here"),
            Row(doc_id=3, text="   "),  # empty token set -> zero signature
            Row(doc_id=4, text="solo"),
            Row(doc_id=5, text="repeat repeat repeat distinct"),
        ]
    )
    num_hashes, seed = 192, 42
    got = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(docs, num_hashes=num_hashes, seed=seed).collect()
    }
    # reference: the pre-r14 broadcast formulation over the same
    # JVM-side xxhash64 token hashes
    htoks = {
        r["doc_id"]: np.array(r["htok"], dtype=np.int64)
        for r in docs.select(
            "doc_id",
            F.expr(
                "transform(array_distinct(filter(split(text, ' '), x -> x != '')),"
                " t -> xxhash64(t))"
            ).alias("htok"),
        ).collect()
    }
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 63, size=num_hashes, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64)
    for doc_id, htok in htoks.items():
        if len(htok) == 0:
            expect = [0] * num_hashes
        else:
            base = htok.view(np.uint64)
            m = a[:, None] * base[None, :] + b[:, None]
            expect = list(m.min(axis=1).view(np.int64))
        assert got[doc_id] == expect, f"doc {doc_id} signature changed"
