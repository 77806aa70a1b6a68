"""Crawl detail-pipeline throughput harness — the north-metric
measurement (URLs scheduled+fetched+extracted per second) and the
N-vs-4N scaling-efficiency evidence.

The measured job is the engine's mass-scale path (SURVEY §3.1): a
pre-discovered frontier of every page URL runs canonicalize (Arrow
UDF) → seen dedup (bloom probe + exact anti-join) → robots gate →
two-stage salted politeness pop → fetch join against the pages table →
site-routed extraction (parse pandas UDF for seek/jora HTML, from_json
for careerone, passthrough text for generic hosts) → a noop-style
count over the extracted rows. Budgets are set high so the measurement
exercises the machinery, not the (intentional) politeness throttle.

Scaling protocol (BASELINE.md): the same job + same parquet input at
local[8] and local[32]; eff = T8 / (4 · T32) in time terms, i.e.
(urls_s_32) / (4 · urls_s_8) in rate terms.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawlspark.bloom import build_bloom, dedup_against_seen
from crawlspark.parsers.udfs import parse_detail_udf
from crawlspark.politeness import apply_robots, pop_per_host
from crawlspark.textops import release_frames
from crawlspark.urlnorm import attach_canonical


def run_detail_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    robots_df: DataFrame,
    seen: DataFrame | None = None,
    use_bloom: bool = True,
    bloom_shards: int = 32,
    salt_shards: int = 16,
    budget: int = 1_000_000_000,
) -> int:
    """One full pipeline pass; returns extracted-row count. Internal
    stage checkpoints are released before returning (repeated passes —
    warm-up + reps — must not accumulate pinned frames)."""
    owned: list[DataFrame] = []
    cand = pages.select("url").select(
        "url",
        F.lit(0).alias("disc_round"),
        F.lit(0).alias("seed_idx"),
        F.lit(0).alias("depth"),
        (F.crc32(F.col("url")) % 1_000_000).cast("int").alias("link_idx"),
    )
    cand = attach_canonical(cand)
    if seen is None:
        # synthetic warm seen-set: ~20% of the corpus, canonicalized —
        # the seen table's key is url_canon (FIXTURES.md §4)
        seen = attach_canonical(
            pages.select("url").filter(F.crc32("url") % 5 == 0)
        ).select("url_canon")
    bloom = build_bloom(seen, n_shards=bloom_shards) if use_bloom else None
    fresh = dedup_against_seen(cand, seen, bloom, bloom_shards, owner=owned)
    gated = apply_robots(fresh, robots_df)
    allowed = gated.filter(F.col("allowed")).drop("allowed")
    budget_df = allowed.select("host").distinct().select(
        "host", F.lit(budget).alias("remaining")
    )
    popped = pop_per_host(
        allowed, budget_df, salt_shards=salt_shards, default_remaining=budget,
        owner=owned,
    ).filter(F.col("popped"))
    # fetch join: SHUFFLE_HASH on the popped side — the html-carrying
    # scan streams through unsorted (SMJ would sort the page bytes;
    # sorting TBs is never the right plan). On a cluster the scheduler
    # broadcasts the politeness-bounded popped set under its threshold
    # so the 100 TB side doesn't move at all; here the popped set is
    # (unrealistically) ~85% of the corpus, and a driver-built
    # broadcast of millions of rows is single-threaded — the shuffle's
    # compression/serialization work spreads across cores instead.
    fetched = pages.join(
        popped.select("url", "url_canon", "host").hint("SHUFFLE_HASH"),
        "url",
        "inner",
    )
    routed = fetched.withColumn(
        "site",
        F.when(F.col("url").contains("seek.com.au/job/"), F.lit("seek"))
        .when(F.col("url").contains("au.jora.com/job/"), F.lit("jora"))
        .otherwise(F.lit("generic")),
    )
    # EVERY fetched page is parsed (seek/jora byte-identical parsers;
    # generic pages whole-document get_text) — extraction is the CPU
    # payload of the pipeline, Arrow-batched.
    extracted = routed.withColumn(
        "out_text",
        parse_detail_udf(F.col("site"), F.col("url"), F.col("html"))[
            "combination_text"
        ],
    )
    n = extracted.filter(F.length("out_text") >= 0).count()
    release_frames(*owned)
    return n


def measure_throughput(
    spark: SparkSession, pages: DataFrame, robots_df: DataFrame, **kw
) -> tuple[int, float]:
    """(urls_extracted, wall_seconds) — pages should be materialized
    (parquet) so generation cost is excluded."""
    t0 = time.perf_counter()
    n = run_detail_pipeline(spark, pages, robots_df, **kw)
    return n, time.perf_counter() - t0


def write_small_pages_parquet(path: str, seed: int = 42, scale: str = "small") -> int:
    """Materialize the fixture pages table to parquet without Spark
    (driver-side pyarrow) so both scaling runs read identical bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawlspark.fixtures import gen_pages_rows

    rows = list(gen_pages_rows(seed, scale))
    table = pa.table(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
        }
    )
    pq.write_table(table, path)
    return len(rows)
