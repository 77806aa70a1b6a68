"""Relational politeness (token buckets) + robots rule evaluation.

The reference rate-limits with ``time.sleep`` inside tasks
(seek_crawler.py:178, jora_cralwer.py:235,273,
career_one_crawler.py:1110) and caps concurrency with Airflow knobs.
The engine replaces sleeping with a per-host **token-bucket budget**:

    capacity(host) = floor(round_seconds / delay) * max_concurrency
    delay = robots.crawl_delay ?? politeness.delay_s ?? DEFAULT_DELAY_S

enforced by a window rank over host (frontier pop, F-H). Robots rules
are longest-prefix-match allow/deny evaluated as pure Column
expressions over the rules array — no UDF.

Scale notes (10^10 frontier):
* robots/politeness are per-host dims — broadcast them (they're
  filtered to the hosts present in the candidate batch first when the
  dim itself is huge).
* the window over ``host`` is the skew hazard: a hot host with 10^8
  pending candidates would funnel into one task. ``pop_per_host`` is
  two-stage: a salted local rank prunes each host to at most
  ``capacity`` rows *per salt shard* before the exact global rank, so
  the final window input per host is ≤ capacity × n_salts rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_DELAY_S = 1.0
DEFAULT_CONCURRENCY = 2

DISCOVERY_KEY = ["disc_round", "seed_idx", "depth", "link_idx"]


def robots_allowed(path_col: Column, rules_col: Column) -> Column:
    """Longest-prefix-match over rules ARRAY<STRUCT<allow,path_prefix>>;
    NULL / empty rules → allowed."""
    matching = F.filter(
        rules_col, lambda r: path_col.startswith(r["path_prefix"])
    )
    best = F.aggregate(
        matching,
        F.struct(F.lit(-1).alias("len"), F.lit(True).alias("allow")),
        lambda acc, r: F.when(
            F.length(r["path_prefix"]) > acc["len"],
            F.struct(
                F.length(r["path_prefix"]).alias("len"), r["allow"].alias("allow")
            ),
        ).otherwise(acc),
    )
    return F.when(rules_col.isNull() | (F.size(rules_col) == 0), F.lit(True)).otherwise(
        best["allow"]
    )


def capacity_df(
    politeness: DataFrame, robots: DataFrame, round_seconds: float
) -> DataFrame:
    """Per-host budget capacity table (host, capacity)."""
    pol = politeness.select("host", "delay_s", "max_concurrency")
    rob = robots.select("host", "crawl_delay")
    joined = pol.join(rob, "host", "full_outer")
    delay = F.coalesce("crawl_delay", "delay_s", F.lit(DEFAULT_DELAY_S))
    conc = F.coalesce("max_concurrency", F.lit(DEFAULT_CONCURRENCY))
    return joined.select(
        "host",
        (F.floor(F.lit(float(round_seconds)) / delay) * conc)
        .cast("long")
        .alias("capacity"),
    )


def default_capacity(round_seconds: float) -> int:
    return int(round_seconds / DEFAULT_DELAY_S) * DEFAULT_CONCURRENCY


def apply_robots(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Adds boolean ``allowed`` from a broadcast join on host. Expects
    ``path_q`` on candidates (from urlnorm.attach_canonical)."""
    rob = F.broadcast(robots.select("host", "rules"))
    joined = candidates.join(rob, "host", "left")
    return joined.withColumn(
        "allowed", robots_allowed(F.col("path_q"), F.col("rules"))
    ).drop("rules")


def pop_per_host(
    candidates: DataFrame,
    budget: DataFrame,
    salt_shards: int = 16,
    order_cols: list[str] | None = None,
    default_remaining: int = 0,
    owner: list | None = None,
) -> DataFrame:
    """Frontier pop: per-host top-``remaining`` in discovery order.

    ``budget``: (host, remaining). Hosts absent from ``budget`` get
    ``default_remaining``. Returns candidates + ``popped`` boolean.

    Skew design (10^10 frontier, Zipf hosts):
    1. **Uncontended fast path** — a per-host count (map-side-combined
       agg: skew-immune) decides which hosts have pending ≤ remaining.
       Their rows ALL pop — no window, no sort. This is the common
       case and costs one agg + one small semi-join.
    2. **Contended hosts only** go through the two-stage rank: stage 1
       ranks within (host, salt) — parallel across shards — and
       discards rows that cannot be in the host's top-``remaining``;
       stage 2 ranks exactly on the pruned set, whose size is bounded
       by remaining × salt_shards per host regardless of how hot the
       host is.
    """
    order_cols = order_cols or DISCOVERY_KEY
    order = [F.col(c) for c in order_cols]
    bud = F.broadcast(budget)
    # stage boundary: cand feeds the count agg, the easy path and the
    # contended path — a lazy localCheckpoint (narrow key columns only)
    # so each branch scans it instead of re-planning the upstream
    cand = (
        candidates.join(bud, "host", "left")
        .withColumn("remaining", F.coalesce("remaining", F.lit(default_remaining)))
        .localCheckpoint(eager=False)
    )
    if owner is not None:
        owner.append(cand)
    # hosts whose pending count exceeds their budget (small set: the
    # politeness-throttled hot hosts)
    contended_hosts = F.broadcast(
        cand.groupBy("host")
        .agg(F.count("*").alias("_cnt"), F.first("remaining").alias("_rem"))
        .filter(F.col("_cnt") > F.col("_rem"))
        .select("host")
    )
    easy = (
        cand.join(contended_hosts, "host", "left_anti")
        .withColumn("popped", F.lit(True))
        .drop("remaining")
    )
    hard = cand.join(contended_hosts, "host", "left_semi")

    salt = F.pmod(F.xxhash64(*order), F.lit(salt_shards))
    w_local = Window.partitionBy(F.col("host"), salt).orderBy(*order)
    staged = hard.withColumn("_lrank", F.row_number().over(w_local))
    # rows beyond the local top-`remaining` of their shard cannot be in
    # the host's global top-`remaining` — they stay pending, no window.
    not_poppable = (
        staged.filter(F.col("_lrank") > F.col("remaining"))
        .withColumn("popped", F.lit(False))
        .drop("_lrank", "remaining")
    )
    w_host = Window.partitionBy("host").orderBy(*order)
    popped = (
        staged.filter(F.col("_lrank") <= F.col("remaining"))
        .withColumn("_rank", F.row_number().over(w_host))
        .withColumn("popped", F.col("_rank") <= F.col("remaining"))
        .drop("_lrank", "_rank", "remaining")
    )
    return easy.unionByName(popped).unionByName(not_poppable)
