"""Dedup + similarity-search operator tests with planted duplicates and a
numpy exact-search oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from datavalidation_spark.operators.dedup import (
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
    simhash_signatures,
)
from datavalidation_spark.operators.similarity import (
    cosine_pairs_fast,
    cosine_topk,
    ivf_topk,
    lsh_topk_md5,
)
from tests.reference_oracle import simhash64_py


@pytest.fixture(scope="module")
def corpus(spark):
    """sf0.001 documents + planted exact and near duplicates."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pdf = docs.toPandas()
    base = pdf.iloc[0]["text"]
    near = " ".join(base.split()[:-2] + ["zzz", "qqq"])  # ~95% token overlap
    extra = pd.DataFrame(
        [
            # exact dup (whitespace/case variant → same canonical digest)
            dict(doc_id=90001, text="  " + base.upper() + " ", lang="en", source="dup", n_chars=len(base)),
            dict(doc_id=90002, text=base, lang="en", source="dup", n_chars=len(base)),
            dict(doc_id=90003, text=near, lang="en", source="dup", n_chars=len(near)),
            dict(doc_id=90004, text="totally unrelated content xyzzy plugh", lang="en", source="dup", n_chars=37),
        ]
    )
    return spark.createDataFrame(pd.concat([pdf, extra], ignore_index=True))


def test_exact_duplicates(corpus):
    dups = exact_duplicates(corpus).collect()
    groups = {tuple(r.dup_ids) for r in dups}
    assert (0, 90001, 90002) in groups  # doc 0's text + 2 planted copies
    flat = {i for g in groups for i in g}
    assert 90003 not in flat and 90004 not in flat


def test_exact_duplicates_hot_digest_bounded(spark):
    """10⁵ copies of one text: dup_ids stays capped at max_dup_ids (the
    aggregation buffer never materializes the full id list), n_copies is
    still exact, and max_dup_ids=None drops the column entirely."""
    hot = spark.range(100_000).select(
        F.col("id").alias("doc_id"), F.lit("same text every time").alias("text")
    )
    rows = exact_duplicates(hot, max_dup_ids=20).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_copies == 100_000 and r.keep_id == 0
    assert list(r.dup_ids) == list(range(20))
    lean = exact_duplicates(hot, max_dup_ids=None)
    assert "dup_ids" not in lean.columns
    assert lean.collect()[0].n_copies == 100_000


def test_lsh_empty_input_returns_empty(spark):
    """dim inference on an empty frame short-circuits instead of raising
    (ADVICE r2 low #4); a NULL vector in the first row must NOT masquerade
    as an empty corpus."""
    from datavalidation_spark.operators.similarity import (
        _infer_dim,
        lsh_near_dup_pairs,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert lsh_near_dup_pairs(empty).count() == 0
    assert lsh_topk_md5(empty, empty, k=3).count() == 0

    null_first = spark.createDataFrame(
        [(0, None), (1, [1.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    assert _infer_dim(null_first, "embedding") == 2
    pairs = lsh_near_dup_pairs(null_first.where(F.col("embedding").isNotNull()),
                               threshold=0.9, n_bits=2, n_tables=2)
    assert pairs.count() == 1  # the two identical vectors are found


def test_jaccard_pairs_finds_near_dup(corpus):
    pairs = jaccard_pairs(corpus, threshold=0.5).collect()
    found = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert any(
        {a, b} >= {90003} and {a, b} & {0, 90001, 90002} for (a, b) in found
    ), found
    # exact copies have J=1.0
    assert found.get((0, 90002)) == 1.0
    assert all(90004 not in (a, b) for (a, b) in found)


def test_minhash_lsh_agrees_with_exact_jaccard(corpus):
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(corpus, threshold=0.4).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(corpus, threshold=0.4, k=16, bands=4).collect()
    }
    # every exact pair with J≥0.7 must be recalled by LSH at threshold 0.4
    strong = {p for p, j in exact.items() if j >= 0.7}
    assert strong <= set(lsh), f"missed: {strong - set(lsh)}"
    for p in strong:
        assert abs(lsh[p] - exact[p]) <= 0.35  # 16-hash estimator tolerance


def test_simhash_signature_matches_python_reference(spark, corpus):
    rows = simhash_signatures(corpus.limit(5)).collect()
    sigs = {r.id: r.simhash for r in rows}
    hexes = {r.id: r.simhash_hex for r in rows}

    for row in corpus.select("doc_id", "text").limit(5).collect():
        toks = row.text.strip().lower().split() if row.text else []
        want = simhash64_py(toks)
        assert sigs[row.doc_id] == want
        assert hexes[row.doc_id] == f"{want & ((1 << 64) - 1):016x}"


def test_simhash_pairs_find_near_dups(corpus):
    pairs = simhash_pairs(corpus, max_hamming=8).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 90002) in ids  # identical text → hamming 0
    assert all(90004 not in p for p in ids)


@pytest.fixture(scope="module")
def vectors(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pdf = emb.toPandas()
    v0 = np.array(pdf.iloc[0]["embedding"], dtype=np.float32)
    near = v0 + np.float32(0.001)
    extra = pd.DataFrame([dict(vec_id=90001, embedding=near.tolist(), label=0)])
    return spark.createDataFrame(pd.concat([pdf, extra], ignore_index=True))


def test_cosine_pairs_finds_planted_near_identical(vectors):
    pairs = cosine_pairs_fast(vectors, threshold=0.99).collect()
    assert any({r.id_a, r.id_b} == {0, 90001} for r in pairs)


def _brute_force_topk(pdf: pd.DataFrame, k: int = 10) -> dict[int, list[int]]:
    M = np.array([np.array(v, dtype=np.float64) for v in pdf["embedding"]])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = M @ M.T
    np.fill_diagonal(sims, -np.inf)
    ids = pdf["vec_id"].to_numpy()
    out = {}
    for i in range(len(ids)):
        order = np.lexsort((ids, -sims[i]))[:k]
        out[int(ids[i])] = [int(ids[j]) for j in order]
    return out


def test_cosine_topk_matches_numpy(spark, vectors):
    pdf = vectors.toPandas()
    queries = vectors.where(F.col("vec_id") < 20)
    got = cosine_topk(queries, vectors, k=5).collect()
    want = _brute_force_topk(pdf, k=5)
    by_q: dict[int, list[int]] = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    for q, neigh in by_q.items():
        assert neigh == want[q], f"query {q}: {neigh} != {want[q]}"


def test_lsh_and_ivf_recall(spark, vectors):
    pdf = vectors.toPandas()
    want = _brute_force_topk(pdf, k=10)
    queries = vectors.where(F.col("vec_id") < 30)

    def recall(df):
        by_q: dict[int, set[int]] = {}
        for r in df.collect():
            by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        scores = [
            len(by_q.get(q, set()) & set(want[q])) / 10 for q in range(30)
        ]
        return float(np.mean(scores))

    r_lsh = recall(lsh_topk_md5(queries, vectors, k=10, n_bits=4, n_tables=8))
    r_ivf = recall(ivf_topk(queries, vectors, k=10, n_cells=8, n_probe=4))
    assert r_lsh >= 0.3, r_lsh
    assert r_ivf >= 0.4, r_ivf


def test_lsh_near_dup_pairs_subset_and_recall(spark):
    """The contract scale path: every LSH pair is exact-verified (no false
    positives by construction) and recall vs the exact quadratic baseline
    stays useful at the contract parameters (measured 0.814 at sf0.01)."""
    from datavalidation_spark.operators.similarity import lsh_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_fast(emb, threshold=0.4, round_dp=4).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in lsh_near_dup_pairs(
            emb, threshold=0.4, n_bits=4, n_tables=8, dim=64
        ).collect()
    }
    assert lsh <= exact, f"false positives: {lsh - exact}"
    assert len(lsh & exact) / max(1, len(exact)) >= 0.6


def test_lsh_topk_md5_recall(spark):
    """Contract ANN path: recall@5 vs brute force (measured 0.64 at sf0.01
    with 4 bits × 8 tables)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 20)
    brute: dict[int, set[int]] = {}
    approx: dict[int, set[int]] = {}
    for r in cosine_topk(queries, emb, k=5).collect():
        brute.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in lsh_topk_md5(queries, emb, k=5, n_bits=4, n_tables=8, dim=64).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(brute[q] & approx.get(q, set())) for q in brute)
    total = sum(len(v) for v in brute.values())
    assert hits / total >= 0.5, hits / total


def test_jaccard_hot_shingle_guard_bounds_candidates(spark):
    """VERDICT r3 what's-wrong #5: a single stopword-like shingle shared by
    10⁴ docs must not explode into ~5·10⁷ candidate pairs. With the default
    (corpus-derived) cap, the hot token is dropped from the inverted index;
    only the planted genuine near-dup pair survives."""
    from pyspark.sql import functions as F

    from datavalidation_spark.operators.dedup import jaccard_pairs

    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # every doc contains the hot token; the rest of each doc is unique
        F.format_string("the unique_%d_a unique_%d_b unique_%d_c", "id", "id", "id")
        .alias("text"),
    )
    # one genuine near-dup pair sharing ALL tokens
    dup = spark.createDataFrame(
        [(90001, "the unique_7_a unique_7_b unique_7_c")], "doc_id long, text string"
    )
    pairs = jaccard_pairs(
        docs.unionByName(dup), shingle_n=1, threshold=0.5
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # the planted pair survives on its 3 rare shared shingles: the hot 'the'
    # shingle is dropped from the index but still counted in both doc sizes,
    # so J = 3 / (4 + 4 - 3) = 0.6 >= 0.5; the 10⁴ hot-token-only pairs
    # (J = 1/7 each) must never even become candidates
    assert got == {(7, 90001)}, got


# --- winnowing (MOSS) fingerprints -----------------------------------------


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_winnow_guarantee_shared_run(spark):
    """Any shared token run of length >= w + k - 1 (= 7 at k=4, w=4) must
    yield at least one shared fingerprint — the winnowing paper's guarantee."""
    from datavalidation_spark.operators.dedup import winnow_fingerprints

    shared = "alpha bravo charlie delta echo foxtrot golf"  # 7 tokens
    df = _docs_df(
        spark,
        [
            (1, f"unrelated prefix one {shared} tail aaa bbb"),
            (2, f"zz yy xx ww {shared} other suffix here"),
        ],
    )
    fps = winnow_fingerprints(df, k=4, w=4).toPandas()
    a = set(fps[fps.id == 1].fp)
    b = set(fps[fps.id == 2].fp)
    assert a & b, "7-token shared run must share a fingerprint"


def test_winnow_short_doc_boundary(spark):
    """Docs with < k tokens produce nothing; docs with k..k+w-1 tokens
    produce exactly one fingerprint (the min over the single short window)."""
    from datavalidation_spark.operators.dedup import winnow_fingerprints

    df = _docs_df(spark, [(1, "a b c"), (2, "a b c d"), (3, "a b c d e f")])
    fps = winnow_fingerprints(df, k=4, w=4).toPandas()
    assert set(fps[fps.id == 1].fp) == set()
    assert len(fps[fps.id == 2]) == 1
    assert len(fps[fps.id == 3]) == 1  # 3 kgrams < w -> one boundary window


def test_winnow_pairs_planted_and_cap(spark):
    """A copied passage is detected; boilerplate shared by the whole corpus
    is suppressed by the doc-frequency cap."""
    from datavalidation_spark.operators.dedup import winnow_dup_pairs

    passage = " ".join(f"tok{i}" for i in range(30))
    boiler = "standard licence header apache version two zero"
    rows = [(1, f"{passage} unique one end"), (2, f"start two {passage}")]
    # 20 docs sharing ONLY the boilerplate line (df=22 > cap=10)
    rows += [(100 + i, f"{boiler} body{i} filler{i} words{i} more{i}") for i in range(20)]
    rows += [(200, boiler), (201, boiler)]
    df = _docs_df(spark, rows)
    pairs = winnow_dup_pairs(df, k=4, w=4, min_common=2, max_doc_freq=10).toPandas()
    got = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    assert (1, 2) in got, "copied 30-token passage must pair"
    assert not any(a >= 100 or b >= 100 for a, b in got), (
        "boilerplate-only overlap above the df cap must not pair"
    )


def test_winnow_matches_pandas_oracle(spark):
    """Value-level parity with a straight pandas transcription on real
    sf0.001 documents (k=4, w=4)."""
    import hashlib

    from datavalidation_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = (
        winnow_fingerprints(docs, k=4, w=4)
        .toPandas()
        .groupby("id")["fp"]
        .apply(lambda s: tuple(sorted(s)))
        .to_dict()
    )
    exp = {}
    for r in docs.select("doc_id", "text").collect():
        toks = (r.text or "").strip().lower().split()
        if len(toks) < 4:
            continue
        grams = [
            hashlib.md5(" ".join(toks[i : i + 4]).encode()).hexdigest()
            for i in range(len(toks) - 3)
        ]
        n_win = max(len(grams) - 3, 1)
        mins = {min(grams[i : i + 4]) for i in range(n_win)}
        exp[r.doc_id] = tuple(sorted(mins))
    assert got == exp


def test_semdedup_planted_copy_dropped(spark):
    """An exact-copy vector with a higher id must be dropped with cosine 1.0
    against the original; kept ∪ dropped partitions the corpus; every
    dropped row names a smaller-id representative."""
    from datavalidation_spark.operators.similarity import semdedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    copy = emb.where(F.col("vec_id") == 0).select(
        F.lit(99001).cast("long").alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(copy)
    dropped = {r.vec_id: r for r in semdedup(corpus, n_cells=8, tau=0.4).collect()}

    assert 99001 in dropped
    assert dropped[99001].dup_of == 0
    assert dropped[99001].cosine == pytest.approx(1.0, abs=1e-4)
    all_ids = {r.vec_id for r in corpus.select("vec_id").collect()}
    assert set(dropped) < all_ids
    for r in dropped.values():
        assert r.dup_of < r.vec_id
        assert r.cosine >= 0.4


def test_semdedup_cell_blocking_is_exhaustive_within_cell(spark):
    """Within one cell, semdedup's verdicts agree with brute force: a row is
    dropped iff some smaller-id row in the SAME cell has cosine >= tau."""
    from datavalidation_spark.operators.similarity import semdedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dropped = semdedup(emb, n_cells=4, tau=0.3).collect()
    # brute-force within-cell oracle in numpy
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    # replicate cell assignment via the operator itself at tau > 1 (no pairs
    # fire), so the test only re-derives the PAIR phase independently
    import hashlib

    order = sorted(ids, key=lambda i: (hashlib.md5(f"{i}:42".encode()).hexdigest(), i))
    cents = {cell: V[list(ids).index(i)] for cell, i in enumerate(order[:4])}
    sims = np.stack([V @ cents[c] for c in range(4)], axis=1).round(6)
    # argmax with (sim, cell) lexicographic max tie-break
    cell_of = {
        ids[k]: max(range(4), key=lambda c: (sims[k, c], c)) for k in range(len(ids))
    }
    expect_dropped = set()
    for k, i in enumerate(ids):
        for j_idx, j in enumerate(ids):
            if j < i and cell_of[j] == cell_of[i]:
                if round(float(V[j_idx] @ V[k]), 4) >= 0.3:
                    expect_dropped.add(int(i))
                    break
    assert {r.vec_id for r in dropped} == expect_dropped
    assert all(cell_of[r.vec_id] == r.cell for r in dropped)


def test_persisted_intermediates_released_on_result_gc(spark, corpus):
    """ADVICE r4 leak class: operators that persist an intermediate for
    multi-job reuse (simhash signatures, IVF normalized corpus, semdedup
    assignment) must release those blocks once the caller drops the result
    plan — otherwise a long-lived session accumulates caches forever."""
    import gc

    def n_cached() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = n_cached()
    out = simhash_pairs(corpus)
    out.collect()
    assert n_cached() > base, "the signature cache should exist while held"
    del out
    gc.collect()
    assert n_cached() == base, "dropping the result must unpersist the cache"
