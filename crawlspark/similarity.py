"""Approximate-nearest-neighbor search over an embedding column.

Two physical strategies over ``embeddings(vec_id, embedding
array<float>, label)``:

* ``brute_force_topk`` — exact cosine top-k per query: broadcast the
  (small) query set against the corpus scan, per-row cosine (double
  fold, JVM expressions), window rank per query. The corpus side never
  shuffles except the final per-query top-k, whose input is already
  pruned by a per-partition local rank (same two-stage trick as the
  frontier pop). This is the ground truth.

* ``ivf_topk`` — IVF-style bucketed search for the 100 TB path:
  deterministic "training-free" centroids (the first C vectors by id —
  a fixed, replayable choice), each corpus vector assigned to its
  nearest centroid by a numpy argmax per Arrow batch (NO corpus
  shuffle — computed once and reusable as a bucketed
  table), queries probe the P nearest
  centroids' buckets only → candidate set shrinks by ~C/P. Exact
  cosine + top-k within the probed buckets. Recall < 1 by design;
  measured in tests against brute force.

Also ``cosine_knn_join`` — the generic "for each row in A find k
nearest in B" primitive (a vectorized pandas-UDF path using numpy
matmul per partition batch), used when A is too big to broadcast:
B (or its IVF buckets) is broadcast as a matrix instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawlspark.textops import cosine, cosine_pd, cosine_sql

DEFAULT_K = 5
IVF_CENTROIDS = 16
IVF_PROBES = 4


def _queries_df(emb: DataFrame, n_queries: int, id_col: str, vec_col: str) -> DataFrame:
    """Deterministic query set: the n lowest-id vectors."""
    return (
        emb.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .orderBy("qid")
        .limit(n_queries)
    )


def brute_force_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = DEFAULT_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query (query != neighbor). Output:
    (qid, rank, nid, cos) with cos rounded to 6 dp; ties broken by
    neighbor id so ordering is total and replayable."""
    q = F.broadcast(_queries_df(emb, n_queries, id_col, vec_col))
    corpus = emb.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    scored = (
        corpus.join(q, F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "cos")
    )


def brute_force_topk_sql(
    table: str = "embeddings",
    n_queries: int = 10,
    k: int = DEFAULT_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cos = cosine_sql("q.qv", "c.nv")
    return f"""
    WITH q AS (
      SELECT {id_col} AS qid, {vec_col} AS qv FROM {table}
      ORDER BY {id_col} LIMIT {n_queries}
    ),
    c AS (SELECT {id_col} AS nid, {vec_col} AS nv FROM {table}),
    scored AS (
      SELECT q.qid, c.nid, round({cos}, 6) AS cos
      FROM c JOIN q ON q.qid <> c.nid
    ),
    ranked AS (
      SELECT qid, nid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM scored
    )
    SELECT qid, rank, nid, cos FROM ranked WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# IVF-style bucketed ANN (scale path; recall measured vs brute force)
# ---------------------------------------------------------------------------


def _assign_bucket_pandas(corpus: DataFrame, centroid_rows: list) -> DataFrame:
    """Nearest-centroid bucket per corpus row: round-9 cosine argmax,
    ties → larger cid (the ``assign`` CTE of ``ivf_topk_sql``). All
    n_centroids dot products per row come from ONE numpy matmul per
    Arrow batch, so the corpus never shuffles and never carries its
    vectors through an exchange. Centroids are driver-small by
    construction (n_centroids × dim floats). pytest asserts every test
    vector lands in the twin's bucket (a flip would need two cosines
    within ~1 ulp of the same 1e-9 rounding cell)."""
    rows = sorted(centroid_rows)  # ascending cid
    cids = np.array([c for c, _ in rows], dtype=np.int32)
    C = np.array([v for _, v in rows], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["nv"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(M, axis=1, keepdims=True)
            if not norms.all():
                # an all-NaN similarity row would otherwise silently
                # argmax to an arbitrary bucket — fail loudly instead
                bad = pdf["nid"].iloc[int(np.flatnonzero(norms == 0)[0])]
                raise ValueError(
                    f"zero-norm embedding (nid={bad}) has no cosine "
                    "bucket; filter zero vectors before ivf_topk"
                )
            sims = np.round((M / norms) @ Cn.T, 9)
            # argmax with ties toward the LARGER cid (cids ascending →
            # scan reversed, take the last maximal column)
            idx = sims.shape[1] - 1 - np.argmax(sims[:, ::-1], axis=1)
            yield pd.DataFrame(
                {"nid": pdf["nid"], "nv": pdf["nv"], "bucket": cids[idx]}
            )

    dbl = corpus.select(
        "nid", F.transform("nv", lambda x: x.cast("double")).alias("nv")
    )
    return dbl.mapInPandas(batches, "nid bigint, nv array<double>, bucket int")


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = DEFAULT_K,
    n_centroids: int = IVF_CENTROIDS,
    n_probes: int = IVF_PROBES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: corpus bucketed by nearest centroid; queries search the
    ``n_probes`` nearest buckets only. Same output schema as
    brute_force_topk. At scale the bucket assignment is precomputed /
    bucketed-by on write, so a query touches n_probes/n_centroids of
    the corpus.

    Bucket assignment and candidate scoring are numpy per Arrow batch
    (no per-row Python); pytest asserts the rows equal the DuckDB twin
    ``ivf_topk_sql`` on the test embeddings."""
    centroids_df = (
        emb.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    )
    centroids = F.broadcast(centroids_df)
    centroid_rows = [
        (r["cid"], list(r["cv"])) for r in centroids_df.collect()
    ]
    corpus = emb.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    bucketed = _assign_bucket_pandas(corpus, centroid_rows)

    q = _queries_df(emb, n_queries, id_col, vec_col)
    # per query: the n_probes nearest centroids
    qc = q.join(F.broadcast(centroids)).select(
        "qid", "qv", "cid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("csim")
    )
    wq = Window.partitionBy("qid").orderBy(F.col("csim").desc(), F.col("cid"))
    probes = (
        qc.withColumn("prank", F.row_number().over(wq))
        .filter(F.col("prank") <= n_probes)
        .select("qid", "qv", F.col("cid").alias("bucket"))
    )
    raw_cos = cosine_pd()(F.col("qv"), F.col("nv"))
    scored = (
        bucketed.join(F.broadcast(probes), "bucket")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", F.round(raw_cos, 6).alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "cos")
    )


def ivf_topk_sql(
    table: str = "embeddings",
    n_queries: int = 10,
    k: int = DEFAULT_K,
    n_centroids: int = IVF_CENTROIDS,
    n_probes: int = IVF_PROBES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of ``ivf_topk`` — expressible because the IVF is
    fully deterministic: first-C centroids, argmax-cosine bucket
    assignment (ties → larger cid, matching Spark's max(struct)),
    fixed probe count, total tie-broken rank order."""
    assign_cos = cosine_sql("c.nv", "ct.cv")
    probe_cos = cosine_sql("q.qv", "ct.cv")
    score_cos = cosine_sql("p.qv", "b.nv")
    return f"""
    WITH cent AS (
      SELECT {id_col} AS cid, {vec_col} AS cv FROM {table}
      ORDER BY {id_col} LIMIT {n_centroids}
    ),
    c AS (SELECT {id_col} AS nid, {vec_col} AS nv FROM {table}),
    assign AS (
      SELECT c.nid, c.nv, ct.cid,
             row_number() OVER (
               PARTITION BY c.nid
               ORDER BY round({assign_cos}, 9) DESC, ct.cid DESC) AS arn
      FROM c CROSS JOIN cent ct
    ),
    bucketed AS (SELECT nid, nv, cid AS bucket FROM assign WHERE arn = 1),
    q AS (
      SELECT {id_col} AS qid, {vec_col} AS qv FROM {table}
      ORDER BY {id_col} LIMIT {n_queries}
    ),
    qc AS (
      SELECT q.qid, q.qv, ct.cid,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY round({probe_cos}, 6) DESC, ct.cid) AS prank
      FROM q CROSS JOIN cent ct
    ),
    probes AS (SELECT qid, qv, cid AS bucket FROM qc WHERE prank <= {n_probes}),
    scored AS (
      SELECT p.qid, b.nid, round({score_cos}, 6) AS cos
      FROM bucketed b JOIN probes p ON b.bucket = p.bucket
      WHERE p.qid <> b.nid
    ),
    ranked AS (
      SELECT qid, nid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM scored
    )
    SELECT qid, rank, nid, cos FROM ranked WHERE rank <= {k}"""


def recall_vs_bruteforce(exact: DataFrame, approx: DataFrame) -> float:
    """Fraction of exact top-k (qid, nid) pairs found by the ANN."""
    e = {(r["qid"], r["nid"]) for r in exact.collect()}
    a = {(r["qid"], r["nid"]) for r in approx.collect()}
    return len(e & a) / max(len(e), 1)


# ---------------------------------------------------------------------------
# vectorized kNN join (numpy matmul per Arrow batch) — the pandas-UDF
# escape hatch for when per-row expression folds are too slow and the
# query side cannot be expressed as a broadcast DataFrame join.
# ---------------------------------------------------------------------------


def knn_join_pandas(
    emb: DataFrame,
    query_matrix: np.ndarray,
    query_ids: np.ndarray,
    k: int = DEFAULT_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """For every corpus partition batch, compute cosine of all queries
    vs the batch with one matmul; emit per-(query, corpus-row) scores
    pre-pruned to the per-batch top-k, then the exact global top-k via
    one small window. Arrow-batched, no per-row Python."""
    spark = emb.sparkSession
    qm = query_matrix / np.linalg.norm(query_matrix, axis=1, keepdims=True)
    bq = spark.sparkContext.broadcast((qm.astype(np.float64), query_ids))

    def batches(it):
        qmat, qids = bq.value
        for pdf in it:
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = qmat @ (m / norms).T  # (n_q, batch)
            nids = pdf[id_col].to_numpy()
            # self-matches must not occupy a top-k slot in the local prune
            sims[nids[None, :] == qids[:, None]] = -np.inf
            topb = min(k, sims.shape[1])
            idx = np.argpartition(-sims, topb - 1, axis=1)[:, :topb]
            out = {
                "qid": np.repeat(qids, topb),
                "nid": nids[idx].ravel(),
                "cos": np.round(np.take_along_axis(sims, idx, axis=1).ravel(), 6),
            }
            yield pd.DataFrame(out)

    scored = emb.select(id_col, vec_col).mapInPandas(
        batches, "qid long, nid long, cos double"
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.filter(F.col("qid") != F.col("nid"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "cos")
    )
