"""Corpus-preparation operators for a web-scale training pipeline:
PII redaction, repetition-based quality (Gopher-style), corpus-level
boilerplate segment removal, deterministic hash sampling, and TF-IDF
top-terms. These extend the dedup/quality family in textops.py — the
reference engine has no corpus ops; this is the beyond-reference
LLM-data-pipeline surface the build targets as first-class.

Every operator ships a DuckDB SQL twin (same semantics, independent
engine) so the driver's value-hash gate applies. Cross-engine
determinism rules (same contract as textops.py):
  * counts/ids stay exact integers;
  * fractions are double divisions of exact integers, rounded to 6dp
    with identical formulas on both sides (same input doubles → same
    round, both engines round positive halves away from zero);
  * hashes are md5-hex prefixes → BIGINT (conv ≡ '0x'||substr cast);
  * regexes use the Java∩RE2 common subset (no backrefs/lookaround).

Scale notes (100 TB): PII/quality/sampling are per-row — no shuffle.
PII and sampling are column projections with full codegen; the
repetition filter's gram counting and boilerplate removal's
segmentation are Counter/str-split mapInPandas kernels, each pinned
to its DuckDB twin in tests/test_corpusops.py (the simhash_df pattern).
Boilerplate removal shuffles once on the segment key (map-side
partial agg; the ≥min_docs filter keeps the boilerplate side small)
and once on doc_id to reassemble. TF-IDF shuffles on term then
doc_id; the corpus-size scalar joins in as a 1-row broadcast.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crawlspark.textops import _branch_persist, tokens_col, tokens_sql

# ---------------------------------------------------------------------------
# PII redaction (plant → count → redact; the plant makes the synthetic
# word-soup corpus non-vacuous and is part of the operator contract,
# the planted_embeddings pattern)
# ---------------------------------------------------------------------------

PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PII_IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
# '+'-anchored so it can never eat an already-redacted <IP> or a bare
# number; redaction order email → ip → phone keeps the three disjoint
PII_PHONE_RE = "\\+[0-9][0-9 -]{6,}[0-9]"


def planted_pii_col(doc_id: Column, text: Column) -> Column:
    """Deterministically append synthetic PII spans: every doc gets an
    email, every 2nd a phone (+61 4########), every 3rd an IPv4."""
    email = F.concat(
        F.lit(" contact user"), doc_id.cast("string"), F.lit("@example.com")
    )
    phone = F.when(
        doc_id % 2 == 0,
        F.concat(
            F.lit(" call +61 4"),
            F.lpad(((doc_id * 7919) % 100000000).cast("string"), 8, "0"),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        doc_id % 3 == 0,
        F.concat(
            F.lit(" ip 10."),
            (doc_id % 256).cast("string"),
            F.lit("."),
            F.floor(doc_id / 256).cast("bigint").__mod__(256).cast("string"),
            F.lit("."),
            (doc_id % 100).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(text, email, phone, ip)


def planted_pii_sql(doc_id: str, text: str) -> str:
    return (
        f"{text} || ' contact user' || {doc_id} || '@example.com'"
        f" || CASE WHEN {doc_id} % 2 = 0 THEN ' call +61 4' ||"
        f" lpad((({doc_id} * 7919) % 100000000)::VARCHAR, 8, '0')"
        f" ELSE '' END"
        f" || CASE WHEN {doc_id} % 3 = 0 THEN ' ip 10.' ||"
        f" ({doc_id} % 256) || '.' || (({doc_id} // 256) % 256) || '.' ||"
        f" ({doc_id} % 100) ELSE '' END"
    )


def pii_redact_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_emails, n_phones, n_ips, clean_text): count then
    strip emails / IPv4s / '+'-prefixed phone numbers. Pure per-row
    regex projections — codegen, no shuffle, no UDF."""
    planted = planted_pii_col(F.col(id_col), F.col(text_col))
    no_email = F.regexp_replace(planted, PII_EMAIL_RE, "<EMAIL>")
    no_ip = F.regexp_replace(no_email, PII_IPV4_RE, "<IP>")
    clean = F.regexp_replace(no_ip, PII_PHONE_RE, "<PHONE>")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(planted, F.lit(PII_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(no_ip, F.lit(PII_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.regexp_count(no_email, F.lit(PII_IPV4_RE)).cast("bigint").alias("n_ips"),
        clean.alias("clean_text"),
    )


def pii_redact_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    planted = planted_pii_sql(id_col, text_col)
    no_email = f"regexp_replace({planted}, '{PII_EMAIL_RE}', '<EMAIL>', 'g')"
    no_ip = f"regexp_replace({no_email}, '{PII_IPV4_RE}', '<IP>', 'g')"
    clean = f"regexp_replace({no_ip}, '{PII_PHONE_RE}', '<PHONE>', 'g')"
    return f"""
    SELECT {id_col} AS doc_id,
           len(regexp_extract_all({planted}, '{PII_EMAIL_RE}'))::BIGINT AS n_emails,
           len(regexp_extract_all({no_ip}, '{PII_PHONE_RE}'))::BIGINT AS n_phones,
           len(regexp_extract_all({no_email}, '{PII_IPV4_RE}'))::BIGINT AS n_ips,
           {clean} AS clean_text
    FROM {table}"""


# ---------------------------------------------------------------------------
# repetition quality (Gopher-style duplicate/top n-gram fractions)
# ---------------------------------------------------------------------------

REP_DUP2_MAX = 0.03  # keep if duplicate-2gram fraction <= this
REP_TOP2_MAX = 0.05  # and top-2gram fraction <= this


def _grams_sql(w: str, n: int) -> str:
    return (
        f"CASE WHEN len({w}) >= {n} "
        f"THEN [array_to_string({w}[i:i+{n - 1}], ' ') "
        f"for i in range(1, len({w}) - {n} + 2)] "
        f"ELSE [array_to_string({w}, ' ')] END"
    )


def _rep_frac(num: Column, den: Column) -> Column:
    return F.round(num.cast("double") / den, 6)


def repetition_quality_df(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc repetition signals: counts of total/distinct 2- and
    3-grams, the top-2gram multiplicity, the derived duplicate/top
    fractions (6dp), and the composite keep flag — the Gopher-style
    repetition filter of a training-corpus pipeline.

    Grams are counted with a Counter per Arrow batch — a distinct×total
    count via interpreted ``F.filter`` lambdas is the textops simhash
    disease. All counts are exact ints and the fractions divide the
    same ints, so the result equals the DuckDB twin
    ``repetition_quality_sql`` (tests/test_corpusops.py). NULL text
    counts like empty text: one empty gram per n."""
    from collections import Counter

    toks = tokens_col(F.col(text_col))
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))

    def batches(it):
        for pdf in it:
            out = {
                "doc_id": pdf["doc_id"],
                "n_2grams": [], "n_distinct_2grams": [], "top_2gram_count": [],
                "n_3grams": [], "n_distinct_3grams": [],
            }
            for tk in pdf["toks"]:
                tk = list(tk) if tk is not None else []
                for n, (tot_k, dis_k, top_k) in (
                    (2, ("n_2grams", "n_distinct_2grams", "top_2gram_count")),
                    (3, ("n_3grams", "n_distinct_3grams", None)),
                ):
                    if len(tk) >= n:
                        g = [" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)]
                    else:
                        g = [" ".join(tk)]
                    c = Counter(g)
                    out[tot_k].append(len(g))
                    out[dis_k].append(len(c))
                    if top_k:
                        out[top_k].append(max(c.values()))
            yield pd.DataFrame(out)

    counted = base.mapInPandas(
        batches,
        "doc_id bigint, n_2grams bigint, n_distinct_2grams bigint, "
        "top_2gram_count bigint, n_3grams bigint, n_distinct_3grams bigint",
    )

    dup2 = _rep_frac(F.col("n_2grams") - F.col("n_distinct_2grams"), F.col("n_2grams"))
    top2f = _rep_frac(F.col("top_2gram_count"), F.col("n_2grams"))
    dup3 = _rep_frac(F.col("n_3grams") - F.col("n_distinct_3grams"), F.col("n_3grams"))
    return counted.select(
        "*",
        dup2.alias("dup_2gram_frac"),
        top2f.alias("top_2gram_frac"),
        dup3.alias("dup_3gram_frac"),
        ((dup2 <= REP_DUP2_MAX) & (top2f <= REP_TOP2_MAX)).alias("keep_repetition"),
    )


def repetition_quality_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    toks = tokens_sql(text_col)
    g2, g3 = _grams_sql("toks", 2), _grams_sql("toks", 3)
    top2 = "list_max(list_transform(list_distinct(g2), d -> len(list_filter(g2, x -> x = d))))"
    return f"""
    WITH t AS (SELECT {id_col} AS doc_id, {toks} AS toks FROM {table}),
    g AS (SELECT doc_id, {g2} AS g2, {g3} AS g3 FROM t),
    c AS (SELECT doc_id,
                 len(g2)::BIGINT AS n_2grams,
                 len(list_distinct(g2))::BIGINT AS n_distinct_2grams,
                 {top2}::BIGINT AS top_2gram_count,
                 len(g3)::BIGINT AS n_3grams,
                 len(list_distinct(g3))::BIGINT AS n_distinct_3grams
          FROM g)
    SELECT *,
           round((n_2grams - n_distinct_2grams)::DOUBLE / n_2grams, 6) AS dup_2gram_frac,
           round(top_2gram_count::DOUBLE / n_2grams, 6) AS top_2gram_frac,
           round((n_3grams - n_distinct_3grams)::DOUBLE / n_3grams, 6) AS dup_3gram_frac,
           (round((n_2grams - n_distinct_2grams)::DOUBLE / n_2grams, 6) <= {REP_DUP2_MAX}
            AND round(top_2gram_count::DOUBLE / n_2grams, 6) <= {REP_TOP2_MAX}) AS keep_repetition
    FROM c"""


# ---------------------------------------------------------------------------
# corpus-level boilerplate segment removal (CCNet/RefinedWeb-style:
# drop text segments that recur across >= min_docs distinct docs)
# ---------------------------------------------------------------------------

SEG_N = 3  # tokens per (non-overlapping) segment
BOILER_MIN_DOCS = 3


def segments_sql(w: str, n: int = SEG_N) -> str:
    return (
        f"[array_to_string({w}[(i-1)*{n}+1:(i-1)*{n}+{n}], ' ') "
        f"for i in range(1, ceil(len({w}) / {n}.0)::INT + 1)]"
    )


def boilerplate_remove(
    docs: DataFrame,
    min_docs: int = BOILER_MIN_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
    owner: list | None = None,
) -> DataFrame:
    """(doc_id, n_segs, n_boiler, clean_text): drop every segment that
    appears in >= min_docs DISTINCT docs, rejoin the survivors in
    original order.

    Segmentation chunks tokens per Arrow batch in plain Python — a
    Column build would evaluate an interpreted slice+concat lambda per
    chunk (the simhash_df disease). The result equals the DuckDB twin
    ``boilerplate_remove_sql`` (tests/test_corpusops.py).

    Scale path: posexplode → groupBy(seg) countDistinct (map-side
    partial agg; the frequency threshold keeps the boilerplate side a
    tiny fraction of the segment space) → anti-join → reassemble via
    one doc_id shuffle. No driver-side collect; AQE picks broadcast
    for the boilerplate side when it fits."""
    import re

    n = SEG_N
    # byte-faithful tokens_col: F.trim strips ASCII spaces only, Java
    # \s is ASCII-only, and Spark's split KEEPS leading and trailing
    # empty tokens — re.split with the explicit class reproduces all
    # three (edge inputs pinned in tests/test_corpusops.py)
    java_ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def batches(it):
        for pdf in it:
            segs = []
            for txt in pdf[text_col]:
                if txt is None:
                    # no segments: (n_segs NULL, n_boiler NULL, clean_text '')
                    segs.append(None)
                    continue
                toks = java_ws.split(txt.lower().strip(" "))
                segs.append([" ".join(toks[i : i + n]) for i in range(0, len(toks), n)])
            yield pd.DataFrame({"doc_id": pdf[id_col], "segs": segs})

    base = docs.select(id_col, text_col).mapInPandas(
        batches, "doc_id bigint, segs array<string>"
    )
    # branch-point persist: `base` feeds the boilerplate census (via
    # ex, itself used on both sides of the anti-join) AND the final
    # n_segs projection — three evaluations of the segmentation (and
    # of everything upstream of ``docs``) without it. At corpus scale
    # this is the segment table a staged run would materialize anyway.
    base = _branch_persist(base, owner)
    ex = base.select("doc_id", F.posexplode("segs").alias("pos", "seg"))
    boiler = (
        ex.groupBy("seg")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("seg")
    )
    kept = (
        ex.join(boiler, "seg", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda s: s["seg"],
                ),
            ).alias("clean_text"),
        )
    )
    return (
        base.select("doc_id", F.size("segs").cast("bigint").alias("n_segs"))
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            (F.col("n_segs") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_boiler"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def boilerplate_remove_sql(
    table: str = "documents",
    min_docs: int = BOILER_MIN_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin via a different (equally valid) plan: aggregate the
    boilerplate set to one list and list_filter each doc against it.
    COALESCE guards DuckDB's NULL for array_to_string([]) and for
    list() over zero rows."""
    toks = tokens_sql(text_col)
    return f"""
    WITH t AS (SELECT {id_col} AS doc_id, {segments_sql("toks")} AS segs
               FROM (SELECT {id_col}, {toks} AS toks FROM {table})),
    ex AS (SELECT doc_id, unnest(segs) AS seg FROM t),
    bl AS (SELECT COALESCE(list(seg), []) AS bls
           FROM (SELECT seg FROM ex GROUP BY seg
                 HAVING count(DISTINCT doc_id) >= {min_docs}))
    SELECT doc_id,
           len(segs)::BIGINT AS n_segs,
           len(list_filter(segs, s -> list_contains(bls, s)))::BIGINT AS n_boiler,
           COALESCE(array_to_string(list_filter(segs, s -> NOT list_contains(bls, s)), ' '), '') AS clean_text
    FROM t CROSS JOIN bl"""


# ---------------------------------------------------------------------------
# deterministic hash sampling (stratified Bernoulli by md5 bucket —
# reproducible across engines/runs, unlike rand()-based sampling)
# ---------------------------------------------------------------------------

SAMPLE_RATES = {"en": 40, "zh": 80}  # percent kept; unlisted langs keep all
SAMPLE_SALT = "smp:"


def sample_bucket_col(doc_id: Column) -> Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(SAMPLE_SALT), doc_id.cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 100
    )


def sample_bucket_sql(doc_id: str) -> str:
    return f"(('0x' || substr(md5('{SAMPLE_SALT}' || {doc_id}), 1, 8))::BIGINT % 100)"


def hash_sample_df(
    docs: DataFrame,
    rates: dict[str, int] | None = None,
    id_col: str = "doc_id",
    strata_col: str = "lang",
) -> DataFrame:
    """(doc_id, lang, bucket): rows KEPT by a per-stratum Bernoulli
    sample keyed on md5(doc_id) — downsample the head language,
    keep the tail. Pure projection+filter, no shuffle, and the kept
    set is identical on every engine/run/cluster size (a rand()
    sample is not even reproducible across two Spark runs)."""
    rates = SAMPLE_RATES if rates is None else rates
    bucket = sample_bucket_col(F.col(id_col))
    rate = F.lit(100)
    for lang, pct in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == lang, F.lit(pct)).otherwise(rate)
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(strata_col).alias("lang"),
            bucket.alias("bucket"),
            rate.alias("_rate"),
        )
        .where(F.col("bucket") < F.col("_rate"))
        .drop("_rate")
    )


def hash_sample_sql(
    table: str = "documents",
    rates: dict[str, int] | None = None,
    id_col: str = "doc_id",
    strata_col: str = "lang",
) -> str:
    rates = SAMPLE_RATES if rates is None else rates
    cases = " ".join(
        f"WHEN {strata_col} = '{lang}' THEN {pct}" for lang, pct in sorted(rates.items())
    )
    return f"""
    SELECT doc_id, lang, bucket FROM (
      SELECT {id_col} AS doc_id, {strata_col} AS lang,
             {sample_bucket_sql(id_col)} AS bucket,
             CASE {cases} ELSE 100 END AS rate
      FROM {table})
    WHERE bucket < rate"""


# ---------------------------------------------------------------------------
# TF-IDF top terms per doc
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


def tfidf_topterms(
    docs: DataFrame,
    k: int = TFIDF_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, term, tf, df, score, rank): the k most tf-idf-salient
    terms per doc. score = tf * ln(N/df), rounded to 6dp BEFORE
    ranking — mathematically-equal scores from different (tf, df)
    pairs (e.g. 2·ln2 vs ln4) land on the same rounded double in both
    engines, so the (score desc, term asc) order is total and
    engine-independent.

    Scale: explode → two hash aggs (term counts shuffle on (doc,term)
    then term — both map-side combinable), corpus size N joins in as a
    1-row broadcast, final top-k is one window over the doc_id
    shuffle. No collect, no UDF."""
    tf = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens_col(F.col(text_col))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def tfidf_topterms_sql(
    table: str = "documents",
    k: int = TFIDF_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    toks = tokens_sql(text_col)
    return f"""
    WITH tok AS (SELECT {id_col} AS doc_id, unnest({toks}) AS term FROM {table}),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    n AS (SELECT count(*)::DOUBLE AS n FROM {table}),
    s AS (SELECT doc_id, term, tf, df, round(tf * ln(n / df), 6) AS score
          FROM tf JOIN dfreq USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, df, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term)::INT AS rank
      FROM s)
    WHERE rank <= {k}"""
