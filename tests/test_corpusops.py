"""Corpus-preparation operators: unit semantics on micro fixtures +
fast-path ≡ DuckDB-twin equality on the real test tables. In the test
names, ``pandas`` is the Arrow-batch kernel and ``expr`` its
SQL-expression twin; NULL and whitespace edge inputs, where DuckDB's
NULL and split semantics differ from Spark's, are pinned to literal
rows. The twins also run end-to-end in tests/test_entry.py."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from crawlspark import corpusops as C
from tests.test_textops import _cmp, _duck

SF_DIR = "/root/testdata/sf0.01"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def test_pii_redact_counts_and_scrubs(spark):
    out = {
        r["doc_id"]: r
        for r in C.pii_redact_df(
            _docs(spark, [(0, "hello world", "en"), (1, "foo bar", "en"),
                          (6, "baz", "en")])
        ).collect()
    }
    # doc 0: email + phone (0%2==0) + ip (0%3==0)
    assert (out[0]["n_emails"], out[0]["n_phones"], out[0]["n_ips"]) == (1, 1, 1)
    # doc 1: email only
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ips"]) == (1, 0, 0)
    assert (out[6]["n_emails"], out[6]["n_phones"], out[6]["n_ips"]) == (1, 1, 1)
    for r in out.values():
        t = r["clean_text"]
        assert "@" not in t and "+61" not in t
        assert "<EMAIL>" in t
    assert out[0]["clean_text"] == "hello world contact <EMAIL> call <PHONE> ip <IP>"


def test_pii_redact_leaves_clean_text_alone(spark):
    # a doc with no planted span variants beyond the always-on email
    r = C.pii_redact_df(_docs(spark, [(5, "plain words only", "en")])).collect()[0]
    assert r["clean_text"].startswith("plain words only contact <EMAIL>")
    assert r["n_phones"] == 0 and r["n_ips"] == 0


# ---------------------------------------------------------------------------
# repetition quality
# ---------------------------------------------------------------------------


def test_repetition_counts_micro(spark):
    # "a b a b a" → 2grams: [a b, b a, a b, b a] → 4 total, 2 distinct,
    # top count 2; 3grams: [a b a, b a b, a b a] → 3 total, 2 distinct
    r = C.repetition_quality_df(_docs(spark, [(1, "a b a b a", "en")])).collect()[0]
    assert (r["n_2grams"], r["n_distinct_2grams"], r["top_2gram_count"]) == (4, 2, 2)
    assert (r["n_3grams"], r["n_distinct_3grams"]) == (3, 2)
    assert r["dup_2gram_frac"] == 0.5
    assert r["top_2gram_frac"] == 0.5
    assert r["dup_3gram_frac"] == round(1 / 3, 6)
    assert not r["keep_repetition"]


def test_repetition_short_doc_single_gram(spark):
    r = C.repetition_quality_df(_docs(spark, [(1, "word", "en")])).collect()[0]
    assert (r["n_2grams"], r["n_distinct_2grams"], r["top_2gram_count"]) == (1, 1, 1)
    assert r["dup_2gram_frac"] == 0.0


REP_COLS = [
    "doc_id", "n_2grams", "n_distinct_2grams", "top_2gram_count", "n_3grams",
    "n_distinct_3grams", "dup_2gram_frac", "top_2gram_frac", "dup_3gram_frac",
    "keep_repetition",
]


def test_repetition_pandas_equals_expr(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = C.repetition_quality_df(docs)
    # exact ints + identical divisions — bit-identical to the twin
    _cmp(out, _duck([("documents", docs.toPandas())]), C.repetition_quality_sql(), REP_COLS)
    assert out.count() == docs.count()
    # whitespace edges: Spark's split keeps the empty tokens around
    # tabs; all-blank text is one empty token
    edge = _docs(spark, [(1, "\tx y", "en"), (2, "z \t", "en"), (3, "   ", "en")])
    assert sorted(map(tuple, C.repetition_quality_df(edge).collect())) == [
        (1, 2, 2, 1, 1, 1, 0.0, 0.5, 0.0, False),
        (2, 1, 1, 1, 1, 1, 0.0, 1.0, 0.0, False),
        (3, 1, 1, 1, 1, 1, 0.0, 1.0, 0.0, False),
    ]


def test_repetition_null_text_pandas_equals_expr(spark):
    # NULL text must not crash the fast path (ADVICE r3); it takes the
    # short-doc branch: grams = [""] → counts 1/1/1 (DuckDB's twin
    # yields NULL counts here, so the row is pinned literally)
    docs = _docs(spark, [(1, None, "en"), (2, "a b c a b c", "en")])
    assert sorted(map(tuple, C.repetition_quality_df(docs).collect())) == [
        (1, 1, 1, 1, 1, 1, 0.0, 1.0, 0.0, False),
        (2, 5, 3, 2, 4, 3, 0.4, 0.4, 0.25, False),
    ]


# ---------------------------------------------------------------------------
# boilerplate removal
# ---------------------------------------------------------------------------


def test_boilerplate_shared_segments_dropped(spark):
    shared = "the quick fox"
    rows = [
        (1, f"{shared} alpha beta gamma", "en"),
        (2, f"{shared} delta epsilon zeta", "en"),
        (3, f"{shared} eta theta iota", "en"),
        (4, "totally unique words here", "en"),
    ]
    out = {r["doc_id"]: r for r in C.boilerplate_remove(_docs(spark, rows), min_docs=3).collect()}
    assert out[1]["n_segs"] == 2 and out[1]["n_boiler"] == 1
    assert out[1]["clean_text"] == "alpha beta gamma"
    assert out[4]["n_boiler"] == 0
    assert out[4]["clean_text"] == "totally unique words here"


def test_boilerplate_all_boiler_doc_empties(spark):
    rows = [(i, "same three words", "en") for i in range(1, 5)]
    out = C.boilerplate_remove(_docs(spark, rows), min_docs=3).collect()
    assert all(r["clean_text"] == "" and r["n_boiler"] == r["n_segs"] == 1 for r in out)
    assert len(out) == 4  # fully-boilerplate docs are kept as empty rows


def test_boilerplate_order_preserved(spark):
    # kept segments must rejoin in original order, not shuffle order
    rows = [(1, "aa bb cc dd ee ff gg hh ii", "en"),
            (2, "dd ee ff x y z", "en"),
            (3, "dd ee ff p q r", "en")]
    out = {r["doc_id"]: r for r in C.boilerplate_remove(_docs(spark, rows), min_docs=3).collect()}
    assert out[1]["clean_text"] == "aa bb cc gg hh ii"


def test_boilerplate_pandas_equals_expr(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = C.boilerplate_remove(docs)
    _cmp(
        out,
        _duck([("documents", docs.toPandas())]),
        C.boilerplate_remove_sql(),
        ["doc_id", "n_segs", "n_boiler", "clean_text"],
    )
    assert out.count() == docs.count()
    # edge whitespace: Spark's split keeps leading/trailing empty
    # tokens and trims ASCII spaces only — the Python path must match
    edge = _docs(spark, [(1, "\tx y", "en"), (2, "z \t", "en"), (3, "   ", "en")])
    assert sorted(map(tuple, C.boilerplate_remove(edge).collect())) == [
        (1, 1, 0, " x y"), (2, 1, 0, "z "), (3, 1, 0, ""),
    ]


def test_boilerplate_null_text_pandas_equals_expr(spark):
    # NULL text (ADVICE r3): segs NULL → (n_segs NULL, n_boiler NULL,
    # clean_text ''); posexplode drops the row upstream
    docs = _docs(spark, [(1, None, "en"), (2, "p q r", "en")])
    assert sorted(map(tuple, C.boilerplate_remove(docs).collect())) == [
        (1, None, None, ""), (2, 1, 0, "p q r"),
    ]


# ---------------------------------------------------------------------------
# hash sampling
# ---------------------------------------------------------------------------


def test_hash_sample_deterministic_and_stratified(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = sorted(r["doc_id"] for r in C.hash_sample_df(docs).collect())
    b = sorted(r["doc_id"] for r in C.hash_sample_df(docs).collect())
    assert a == b and len(a) > 0
    kept = C.hash_sample_df(docs).groupBy("lang").count().collect()
    tot = dict(docs.groupBy("lang").count().collect())
    for r in kept:
        frac = r["count"] / tot[r["lang"]]
        rate = C.SAMPLE_RATES.get(r["lang"], 100) / 100
        assert abs(frac - rate) < 0.15, (r["lang"], frac, rate)
    # unlisted strata keep EVERY row (bucket < 100 always)
    for lang, n in tot.items():
        if lang not in C.SAMPLE_RATES:
            assert dict((r["lang"], r["count"]) for r in kept)[lang] == n


def test_hash_sample_subset_property(spark):
    # lowering a rate can only shrink the kept set (nested samples)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    k40 = {r["doc_id"] for r in C.hash_sample_df(docs, rates={"en": 40}).collect()}
    k20 = {r["doc_id"] for r in C.hash_sample_df(docs, rates={"en": 20}).collect()}
    assert k20 <= k40


# ---------------------------------------------------------------------------
# tf-idf
# ---------------------------------------------------------------------------


def test_tfidf_micro(spark):
    rows = [(1, "apple apple banana", "en"), (2, "banana cherry", "en"),
            (3, "cherry cherry cherry date", "en")]
    out = C.tfidf_topterms(_docs(spark, rows), k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: apple tf=2 df=1 → 2·ln3 ≈ 2.197; banana tf=1 df=2 → ln1.5
    d1 = sorted(by_doc[1], key=lambda r: r["rank"])
    assert [r["term"] for r in d1] == ["apple", "banana"]
    assert d1[0]["score"] == round(2 * math.log(3), 6)
    assert d1[0]["tf"] == 2 and d1[0]["df"] == 1
    # doc 3: cherry tf=3 df=2 → 3·ln1.5 ≈ 1.216 > date 1·ln3 ≈ 1.099
    d3 = sorted(by_doc[3], key=lambda r: r["rank"])
    assert [r["term"] for r in d3] == ["cherry", "date"]
    assert all(len(v) <= 2 for v in by_doc.values())


def test_tfidf_tie_broken_by_term(spark):
    # equal tf and df → equal score → alphabetical order decides
    rows = [(1, "zebra apple", "en"), (2, "mango kiwi", "en")]
    out = sorted(
        C.tfidf_topterms(_docs(spark, rows), k=2).collect(),
        key=lambda r: (r["doc_id"], r["rank"]),
    )
    assert [r["term"] for r in out if r["doc_id"] == 1] == ["apple", "zebra"]
    assert [r["term"] for r in out if r["doc_id"] == 2] == ["kiwi", "mango"]
