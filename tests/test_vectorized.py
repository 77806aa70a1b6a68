"""Fast-path ≡ oracle-twin equivalence for the vectorized operators:
the numpy-matmul / Arrow-batch kernels of IVF bucket assignment, IVF
candidate scoring, sign-LSH banding, SimHash and the bottom-k
fingerprint must produce EXACTLY the rows of their DuckDB SQL twins on
the real test tables — at sf0.001 and on the planted near-dup corpus.
In the test names, ``pandas`` is the Arrow-batch kernel and ``expr``
its SQL-expression twin. NULL and whitespace edge inputs, where
DuckDB's NULL and split semantics differ from Spark's, are pinned to
literal rows instead."""

from __future__ import annotations

import pytest

from crawlspark import similarity as S
from crawlspark import textops as T
from tests.test_textops import _cmp, _duck

SF_DIR = "/root/testdata/sf0.001"
EDGE_SCHEMA = "doc_id bigint, text string, lang string"
NULL_DOCS = [(1, None, "en"), (2, "p q r", "en")]
WS_DOCS = [(1, "\tx y", "en"), (2, "z \t", "en"), (3, "   ", "en")]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def duck_emb():
    con = _duck([])
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    return con


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ivf_pandas_equals_expr(emb, duck_emb):
    out = S.ivf_topk(emb, n_queries=10, k=5)
    _cmp(out, duck_emb, S.ivf_topk_sql(), ["qid", "rank", "nid", "cos"])
    assert out.count() == 50


def test_ivf_bucket_assignment_identical(emb, duck_emb):
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.orderBy("vec_id").limit(S.IVF_CENTROIDS).collect()
    ]
    corpus = emb.selectExpr("vec_id AS nid", "embedding AS nv")
    fast = {
        r["nid"]: r["bucket"]
        for r in S._assign_bucket_pandas(corpus, centroids).collect()
    }
    # the twin's own CTE chain up to `bucketed` (cent → c → assign)
    ctes = S.ivf_topk_sql().split("q AS (")[0].rstrip().rstrip(",")
    twin = dict(duck_emb.execute(ctes + " SELECT nid, bucket FROM bucketed").fetchall())
    assert fast == twin and len(fast) == emb.count()


def test_simhash_pandas_equals_expr(spark, docs):
    con = _duck([("documents", docs.toPandas())])
    sql = f"SELECT doc_id, {T.simhash_sql_expr(T.tokens_sql('text'))} AS sim FROM documents"
    _cmp(T.simhash_df(docs), con, sql, ["doc_id", "sim"])
    # edges: NULL text has no tokens (sim 0); Spark's split keeps the
    # empty tokens around tabs and blanks
    assert _rows(T.simhash_df(spark.createDataFrame(NULL_DOCS, EDGE_SCHEMA))) == [
        (1, 0), (2, 304128534319817289),
    ]
    assert _rows(T.simhash_df(spark.createDataFrame(WS_DOCS, EDGE_SCHEMA))) == [
        (1, 960753565703882784), (2, 936986818579006240), (3, 955282973525019424),
    ]


def test_doc_fingerprint_pandas_equals_expr(spark, docs):
    con = _duck([("documents", docs.toPandas())])
    sql = (
        f"SELECT doc_id, {T.fingerprint_sql(T.shingles_sql(T.tokens_sql('text')))} AS fp "
        "FROM documents"
    )
    _cmp(T.doc_fingerprint_df(docs), con, sql, ["doc_id", "fp"])
    # edges: NULL text fingerprints as md5('') (DuckDB gives NULL)
    empty = "d41d8cd98f00b204e9800998ecf8427e"
    assert _rows(T.doc_fingerprint_df(spark.createDataFrame(NULL_DOCS, EDGE_SCHEMA))) == [
        (1, empty), (2, "d4137c3fbf62ebcccf786150f7b5efac"),
    ]
    assert _rows(T.doc_fingerprint_df(spark.createDataFrame(WS_DOCS, EDGE_SCHEMA))) == [
        (1, "59690ed8f99d92b49041d1e50ca9ce20"),
        (2, "c13a4734fe74d03ae105530927d8277d"),
        (3, empty),
    ]


def test_emb_lsh_pandas_equals_expr(spark, emb, duck_emb):
    out = T.embedding_lsh_pairs(T.planted_embeddings(emb), threshold=0.95)
    _cmp(
        out,
        duck_emb,
        T.embedding_lsh_pairs_sql(
            table="planted", threshold=0.95, prelude=T.planted_embeddings_sql_prelude()
        ),
        ["id_a", "id_b", "cos"],
    )
    assert out.count(), "planted corpus must yield near-dup pairs"
