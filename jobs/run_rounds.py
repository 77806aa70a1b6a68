"""spark-submit entry point: run K scheduling rounds, resumable.

Packaging (north rule: ``spark-submit --py-files``):

    cd /root/repo && zip -qr /tmp/crawlspark.zip crawlspark
    spark-submit --py-files /tmp/crawlspark.zip jobs/run_rounds.py \
        --catalog /path/to/catalog --rounds 3 [--pages pages.parquet] \
        [--scale small] [--round-seconds 600] [--no-bloom] [--fresh]

With ``--pages`` the input is a real pages parquet of shape
(url, warc_ts, html, text, lang); otherwise the deterministic fixture
at ``--scale`` is generated. The run resumes from the catalog's last
committed round unless ``--fresh``.

On a cluster the same invocation works against a YARN/K8s master —
the engine touches no local-filesystem assumptions outside the
catalog root (which then points at shared storage / Iceberg).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--pages", default=None)
    ap.add_argument("--scale", default="tiny")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--round-seconds", type=float, default=600.0)
    ap.add_argument("--no-bloom", action="store_true")
    ap.add_argument("--fresh", action="store_true")
    ap.add_argument(
        "--robots-from-pages",
        action="store_true",
        help="derive the robots cache from the corpus's robots.txt "
        "pages instead of the fixture rule table",
    )
    ap.add_argument("--cores", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from crawlspark.fixtures import (
        gen_seeds,
        pages_df,
        politeness_rows,
        robots_rows,
    )
    from crawlspark.scheduler import CrawlEngine
    from crawlspark.session import get_spark
    from crawlspark.tableio import SnapshotCatalog

    # under spark-submit a session already exists; standalone runs
    # build one from the factory.
    spark = SparkSession.getActiveSession() or get_spark(
        "crawlspark-rounds", cores=args.cores
    )
    spark.sparkContext.setLogLevel("WARN")

    pages = (
        spark.read.parquet(args.pages)
        if args.pages
        else pages_df(spark, args.seed, args.scale)
    )
    if args.robots_from_pages:
        from crawlspark.robots import robots_rows_from_pages

        robots = robots_rows_from_pages(pages)
    else:
        robots = robots_rows(args.seed, args.scale)
    cat = SnapshotCatalog(args.catalog, spark)
    eng = CrawlEngine(
        spark,
        cat,
        pages,
        gen_seeds(args.scale),
        politeness_rows(),
        robots,
        round_seconds=args.round_seconds,
        seen_filter="exact" if args.no_bloom else "bloom",
    )
    counters = eng.run(args.rounds, resume=not args.fresh)
    for c in counters:
        print(json.dumps(c))


if __name__ == "__main__":
    main()
