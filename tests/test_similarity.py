"""ANN operators: brute-force top-k vs DuckDB + numpy oracles, IVF
recall, and the vectorized kNN-join pandas-UDF path."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from crawlspark import similarity as S

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], mat[order]


def _numpy_topk(ids, mat, n_queries, k):
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = norm[:n_queries] @ norm.T
    out = set()
    for qi in range(n_queries):
        scored = [
            (round(sims[qi, j], 6), ids[j])
            for j in range(len(ids))
            if ids[j] != ids[qi]
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (cos, nid) in enumerate(scored[:k], 1):
            out.add((int(ids[qi]), rank, int(nid)))
    return out


def test_brute_force_vs_numpy(emb, emb_np):
    ids, mat = emb_np
    got = {
        (r["qid"], r["rank"], r["nid"])
        for r in S.brute_force_topk(emb, n_queries=10, k=5).collect()
    }
    assert got == _numpy_topk(ids, mat, 10, 5)


def test_brute_force_vs_duckdb(emb):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    got = sorted(
        tuple(r)
        for r in S.brute_force_topk(emb, n_queries=10, k=5)
        .select("qid", "rank", "nid", "cos")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in con.execute(S.brute_force_topk_sql(n_queries=10, k=5)).fetchall()
    )
    assert got == want


def test_ivf_recall(emb):
    """IVF with 16 centroids / 4 probes must recover most of the exact
    top-5 — the corpus is label-clustered, so bucket probing works."""
    exact = S.brute_force_topk(emb, n_queries=10, k=5)
    approx = S.ivf_topk(emb, n_queries=10, k=5)
    rec = S.recall_vs_bruteforce(exact, approx)
    assert rec >= 0.6, rec


def test_ivf_output_shape(emb):
    out = S.ivf_topk(emb, n_queries=4, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append(r)
    assert len(by_q) == 4
    for rows in by_q.values():
        assert sorted(r["rank"] for r in rows) == [1, 2, 3]
        assert all(r["qid"] != r["nid"] for r in rows)


def test_knn_join_pandas_matches_bruteforce(emb, emb_np):
    ids, mat = emb_np
    got = {
        (r["qid"], r["rank"], r["nid"])
        for r in S.knn_join_pandas(emb, mat[:10], ids[:10], k=5).collect()
    }
    want = {
        (r["qid"], r["rank"], r["nid"])
        for r in S.brute_force_topk(emb, n_queries=10, k=5).collect()
    }
    assert got == want


def test_assign_bucket_zero_norm_fails_loudly_both_impls(spark):
    """A zero-norm vector has no cosine bucket. The numpy assignment
    must fail loudly (ADVICE r3 — silently argmax-ing an all-NaN row
    would bucket the vector arbitrarily and diverge from the oracle
    twin), both called directly and through ``ivf_topk``."""
    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "nid long, nv array<float>"
    )
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    with pytest.raises(Exception, match="zero-norm"):
        S._assign_bucket_pandas(corpus, cents).collect()
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0]), (9, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="zero-norm"):
        S.ivf_topk(emb, n_queries=1, k=2, n_centroids=2, n_probes=1).collect()
