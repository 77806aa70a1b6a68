"""The crawl engine: one scheduling round = one Spark job chain + one
atomic snapshot commit (SURVEY §3.1 "Spark restatement").

Round pipeline
--------------
1. **Rotation** (F-I): one active seed per site,
   ``site_seeds[round % len(site_seeds)]`` — mirrors the reference's
   one-(role,city)-per-DAG-run cron rotation (seek_crawler.py:68-135).
2. **Discovery** (F-A/F-B/F-M): serial pagination walk per active
   chain. Pagination is inherently sequential (page N's URL is inside
   page N−1's HTML — the reference sleeps 3-5 s between pages,
   seek_crawler.py:178), so the driver walks the ≤ max_depth ×
   n_sites search pages directly against a cached, predicate-pushed
   subset of the pages table; every *link* discovered goes straight
   into DataFrames. The mass-scale path is the detail phase — at a
   10^10 frontier the chain walk stays O(active chains), which the
   rotation bounds.
3. **Dedup** (F-C/F-D): canonicalize (Arrow UDF) → in-batch keep-first
   by discovery key (window) → bloom probe + exact left_anti vs seen.
4. **Robots + politeness pop** (F-G/F-H): longest-prefix robots rules,
   then the two-stage salted window rank caps fetches per host at the
   token-bucket capacity.
5. **Fetch**: popped rows join the pages table ("fetch" — the sandbox
   stand-in for HTTP). Small popped sets broadcast against the scan so
   the 100 TB side never shuffles.
6. **Extract** (E1-E6): parse pandas UDF → byte-identical
   ``combination_text``; CareerOne pages are `from_json` + explode.
7. **Commit** (M5): extracted/crawl_log append, seen/frontier/
   job_metadata snapshot overwrite, each with per-partition lineage +
   counters; ``crawl_log`` commits LAST and is the round's commit
   marker — resume replays any round whose marker is missing, reading
   every table as-of the last complete round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawlspark import warehouse
from crawlspark.bloom import build_bloom, dedup_against_seen, update_bloom
from crawlspark.parsers.careerone import page_count
from crawlspark.parsers.jora import extract_jora_links
from crawlspark.parsers.seek import extract_seek_links
from crawlspark.parsers.udfs import careerone_jobs_col, parse_detail_udf
from crawlspark.politeness import (
    DISCOVERY_KEY,
    apply_robots,
    capacity_df,
    default_capacity,
    pop_per_host,
)
from crawlspark.simulator import MAX_ATTEMPTS, SITE_ORDER, robots_decision
from crawlspark.tableio import SnapshotCatalog
from crawlspark.textops import release_frames
from crawlspark.urlnorm import attach_canonical, canonicalize, host_of, path_after_host

CAND_SCHEMA = (
    "url string, site string, searched_role string, searched_location string, "
    "disc_round int, seed_idx int, depth int, link_idx int, attempts int"
)
FRONTIER_SCHEMA = (
    CAND_SCHEMA + ", url_canon string, host string, path_q string"
)
SEEN_SCHEMA = "url_canon string, url_sha2 string, first_round int"
LOG_SCHEMA = (
    "round int, phase string, site string, seed_idx int, depth int, "
    "link_idx int, url string, host string, ok boolean"
)

SITE_URL_PREFIXES = {
    "seek": "https://www.seek.com.au/",
    "jora": "https://au.jora.com/",
    "careerone": "https://seeker-api.careerone.com.au/",
}


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        catalog: SnapshotCatalog,
        pages: DataFrame,
        seeds: list[dict],
        politeness: list[dict],
        robots: list[dict],
        round_seconds: float = 600.0,
        max_depth: int = 10,
        bloom_shards: int = 32,
        salt_shards: int = 16,
        seen_filter: str = "bloom",
    ):
        # seen_filter: "bloom" (default; fastest build, incremental) |
        # "cuckoo" (deletion-capable → expire_seen/recrawl) | "exact"
        # (anti-join only — the semantic ground truth). All three are
        # observationally identical for dedup (probe-then-verify).
        self.seen_filter = seen_filter
        self.spark = spark
        self.catalog = catalog
        self.pages = pages
        self.seeds_by_site = {
            s: [d for d in seeds if d["site"] == s] for s in SITE_ORDER
        }
        self.politeness_rows = politeness
        self.robots_rows = robots
        self.politeness_df = spark.createDataFrame(
            [(p["host"], p["delay_s"], p["max_concurrency"]) for p in politeness],
            "host string, delay_s double, max_concurrency int",
        )
        self.robots_df = spark.createDataFrame(
            [
                (
                    r["host"],
                    [(bool(x["allow"]), x["path_prefix"]) for x in r["rules"]],
                    r.get("crawl_delay"),
                )
                for r in robots
            ],
            "host string, rules array<struct<allow:boolean,path_prefix:string>>, "
            "crawl_delay double",
        )
        self._robots_by_host = {r["host"]: r for r in robots}
        self.round_seconds = round_seconds
        self.max_depth = max_depth
        self.bloom_shards = bloom_shards
        self.salt_shards = salt_shards
        # predicate-pushed slice of the pages table holding only the
        # site families' search/seed URLs — StartsWith pushes to the
        # parquet scan, and the slice is cached for the chain walks.
        prefix_filter = None
        for p in SITE_URL_PREFIXES.values():
            cond = F.col("url").startswith(p)
            prefix_filter = cond if prefix_filter is None else (prefix_filter | cond)
        self._chain_pages: dict[str, bytes | None] = {}
        self._chain_prefixes: set[str] = set()
        self._chain_pages_df = (
            pages.filter(prefix_filter)
            .filter(
                # search/API pages only: detail pages are fetched by the
                # detail phase against the full table
                ~F.col("url").rlike(r"seek\.com\.au/job/|au\.jora\.com/job/")
            )
            .select("url", "warc_ts", "html")
            .cache()
        )
        self._capacity = capacity_df(
            self.politeness_df, self.robots_df, round_seconds
        )
        self._default_capacity = default_capacity(round_seconds)

    # ------------------------------------------------------------------
    def _load_chain_pages(self, seed_urls: list[str]) -> None:
        """Prefetch search pages for the round's ACTIVE chains only.

        A chain's pages all share the seed URL's prefix (pagination
        appends ``?page=N`` / ``&p=N`` / rewrites the trailing
        ``page=N``), so the driver-side cache is bounded at
        O(active chains × max_depth) rows per round — NOT the whole
        multi-site search-page slice, which at a 10^10 frontier
        (many seeds × many hosts) would be a driver-memory bottleneck.
        Prefixes load once; later rounds only fetch newly-rotated
        chains."""
        prefixes = {
            u.rsplit("page=", 1)[0] if "page=" in u else u for u in seed_urls
        }
        todo = sorted(p for p in prefixes if p not in self._chain_prefixes)
        if not todo:
            return
        cond = None
        for p in todo:
            c = F.col("url").startswith(p)
            cond = c if cond is None else (cond | c)
        for r in self._chain_pages_df.filter(cond).collect():
            self._chain_pages[r["url"]] = bytes(r["html"])
        self._chain_prefixes.update(todo)

    def _chain_html(self, url: str) -> bytes | None:
        """Search-page lookup from the per-chain prefetched cache; a
        miss (dead link, or a chain URL outside the prefetched
        prefixes) falls back to one narrow point lookup and is
        memoized."""
        if url in self._chain_pages:
            return self._chain_pages[url]
        rows = self._chain_pages_df.filter(F.col("url") == url).collect()
        html = bytes(rows[0]["html"]) if rows else None
        self._chain_pages[url] = html
        return html

    def _capacity_of(self, host: str) -> int:
        rob = self._robots_by_host.get(host, {})
        pol = next(
            (p for p in self.politeness_rows if p["host"] == host), None
        )
        from crawlspark.politeness import DEFAULT_CONCURRENCY, DEFAULT_DELAY_S

        delay = rob.get("crawl_delay") or (
            pol["delay_s"] if pol else DEFAULT_DELAY_S
        )
        conc = pol["max_concurrency"] if pol else DEFAULT_CONCURRENCY
        return int(self.round_seconds / delay) * conc

    def _allowed(self, url: str) -> bool:
        rob = self._robots_by_host.get(host_of(url))
        return robots_decision(
            rob["rules"] if rob else None, path_after_host(url)
        )

    # ------------------------------------------------------------------
    def run_round(self, rnd: int) -> dict:
        # round-owned frames: every stage checkpoint pinned on behalf of
        # this round is released once the round commits — or fails, so
        # a raising commit leaks nothing (resume replays the round,
        # which has no crawl_log marker)
        owned: list[DataFrame] = []
        try:
            return self._run_round(rnd, owned)
        finally:
            release_frames(*owned)

    def _run_round(self, rnd: int, owned: list[DataFrame]) -> dict:
        spark = self.spark
        used: dict[str, int] = {}
        budget_left: dict[str, int] = {}

        def take(host: str) -> bool:
            if host not in budget_left:
                budget_left[host] = self._capacity_of(host)
            if budget_left[host] <= 0:
                return False
            budget_left[host] -= 1
            used[host] = used.get(host, 0) + 1
            return True

        log_rows: list[tuple] = []
        cand_rows: list[tuple] = []
        c1_frames: list[DataFrame] = []

        # ---- discovery: serial chain walks (F-A), one seed per site ----
        active_seeds = {
            site: seeds[rnd % len(seeds)]
            for site, seeds in self.seeds_by_site.items()
            if seeds
        }
        self._load_chain_pages([s["url"] for s in active_seeds.values()])
        for site in SITE_ORDER:
            seed = active_seeds.get(site)
            if seed is None:
                continue
            if site == "careerone":
                self._careerone_chain(rnd, seed, take, log_rows, c1_frames)
                continue
            extract = extract_seek_links if site == "seek" else extract_jora_links
            url, depth = seed["url"], 0
            while url is not None and depth < self.max_depth:
                host = host_of(url)
                if not self._allowed(url) or not take(host):
                    break
                html = self._chain_html(url)
                log_rows.append(
                    (rnd, "search", site, seed["seed_idx"], depth, -1, url, host,
                     html is not None)
                )
                if html is None:
                    break
                detail_urls, next_urls = extract(html)
                for li, durl in enumerate(detail_urls):
                    cand_rows.append(
                        (durl, site, seed["searched_role"],
                         seed["searched_location"], rnd, seed["seed_idx"],
                         depth, li, 0)
                    )
                url = next_urls[0] if next_urls else None
                depth += 1

        new_cands = attach_canonical(
            spark.createDataFrame(cand_rows, CAND_SCHEMA)
        )
        frontier = self._state_as_of("frontier", FRONTIER_SCHEMA, rnd - 1)
        seen = self._state_as_of("seen", SEEN_SCHEMA, rnd - 1)

        cand = frontier.unionByName(new_cands.select(*frontier.columns))

        # ---- F-C in-batch dedup: keep first discovery per canon URL ----
        w_first = Window.partitionBy("url_canon").orderBy(*DISCOVERY_KEY)
        cand = (
            cand.withColumn("_rn", F.row_number().over(w_first))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

        # ---- F-D seen dedup: filter probe + exact anti-join backstop ----
        if self.seen_filter == "cuckoo":
            from crawlspark.cuckoo import dedup_against_seen_cuckoo

            ck = (
                self.catalog.read_as_of_round("seen_cuckoo", rnd - 1)
                if self.catalog.exists("seen_cuckoo")
                else None
            )
            fresh = dedup_against_seen_cuckoo(
                cand, seen, ck, self.bloom_shards, owner=owned
            )
        else:
            bloom = None
            if self.seen_filter == "bloom" and self.catalog.exists("seen_bloom"):
                bloom = self.catalog.read_as_of_round("seen_bloom", rnd - 1)
            fresh = dedup_against_seen(
                cand, seen, bloom, self.bloom_shards, owner=owned
            )

        # ---- robots gate ----
        # Stage boundaries from here on are lazy localCheckpoints, each
        # materialized by the first action that reads it: gated feeds
        # the allowed pop chain and the blocked counter, which would
        # otherwise each re-run the canonicalize-UDF + window + seen
        # filter chain. A checkpoint, not a persist: a later plan scans
        # a LogicalRDD, while a persist leaves every earlier cached plan
        # nested inside it, and plan strings (rebuilt per SQL execution
        # and AQE re-plan) grow ~2x per nested level.
        gated = apply_robots(fresh, self.robots_df).localCheckpoint(eager=False)
        owned.append(gated)
        allowed = gated.filter(F.col("allowed")).drop("allowed")
        n_blocked = gated.filter(~F.col("allowed")).count()

        # ---- politeness pop (F-G/F-H) ----
        used_df = self.spark.createDataFrame(
            list(used.items()) or [("", 0)], "host string, used long"
        )
        remaining = (
            self._capacity.join(used_df, "host", "full_outer")
            .select(
                "host",
                (
                    F.coalesce("capacity", F.lit(self._default_capacity))
                    - F.coalesce("used", F.lit(0))
                ).alias("remaining"),
            )
        )
        popped_all = pop_per_host(
            allowed,
            remaining,
            salt_shards=self.salt_shards,
            default_remaining=self._default_capacity,
            owner=owned,
        ).localCheckpoint(eager=False)
        owned.append(popped_all)
        # one pop: the fetch side and the frontier write both scan it
        to_fetch = popped_all.filter(F.col("popped")).drop("popped")
        pending = popped_all.filter(~F.col("popped")).drop("popped")
        n_popped = to_fetch.count()

        # ---- fetch: join vs pages without shuffling the big side ----
        pages = self.pages.select("url", "warc_ts", "html")
        if n_popped <= 500_000:
            hit = pages.join(F.broadcast(to_fetch), "url", "inner")
        else:
            # SHUFFLE_HASH on the popped side: the html-carrying scan
            # streams through the join unsorted (SMJ would sort TBs)
            hit = pages.join(to_fetch.hint("SHUFFLE_HASH"), "url", "inner")
        hit = hit.localCheckpoint(eager=False)
        owned.append(hit)
        parsed = hit.withColumn(
            "_p", parse_detail_udf(F.col("site"), F.col("url"), F.col("html"))
        ).select(
            "url", "url_canon", "host", "site", "searched_role",
            "searched_location", "warc_ts",
            *DISCOVERY_KEY,
            F.lit(rnd).alias("round"),
            F.col("_p.job_info_json").alias("job_info_json"),
            F.col("_p.job_description").alias("job_description"),
            F.col("_p.combination_text").alias("combination_text"),
            F.col("_p.role").alias("role"),
            F.col("_p.company").alias("company"),
            F.col("_p.location").alias("location"),
            F.col("_p.contract_type_raw").alias("contract_type_raw"),
            F.col("_p.listed_date_raw").alias("listed_date_raw"),
        )
        parsed = parsed.localCheckpoint(eager=False)
        owned.append(parsed)

        # ---- per-partition lineage for the fetch stage (M5) ----
        # its collect is the action that materializes hit and parsed,
        # and its row sum is the fetched count
        lineage = [
            {"round": rnd, "stage": "fetch", "partition": int(r["pid"]),
             "rows": int(r["cnt"])}
            for r in parsed.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("cnt"))
            .collect()
        ]
        n_fetched = sum(e["rows"] for e in lineage)

        failed = to_fetch.join(
            F.broadcast(hit.select("url")), "url", "left_anti"
        ).withColumn("attempts", F.col("attempts") + 1)
        retry = failed.filter(F.col("attempts") < MAX_ATTEMPTS)
        # detail-phase log: popped rows in discovery order
        detail_log = to_fetch.join(
            F.broadcast(hit.select("url", F.lit(True).alias("ok"))), "url", "left"
        ).select(
            F.lit(rnd).alias("round"),
            F.lit("detail").alias("phase"),
            "site",
            "seed_idx",
            "depth",
            "link_idx",
            "url",
            "host",
            F.coalesce("ok", F.lit(False)).alias("ok"),
        )

        # ---- commits (crawl_log last = round commit marker) ----
        seen_new = seen.unionByName(
            parsed.select(
                "url_canon",
                F.sha2(F.col("url_canon"), 256).alias("url_sha2"),
                F.lit(rnd).alias("first_round"),
            )
        )
        counters = {
            "round": rnd,
            "search_fetches": sum(
                1 for r in log_rows if r[1] == "search"
            ),
            "blocked": int(n_blocked),
            "popped": int(n_popped),
            "fetched_ok": int(n_fetched),
            "failed": int(n_popped - n_fetched),
        }
        self.catalog.write(
            "extracted",
            parsed.filter(F.col("site").isin("seek", "jora")),
            round_no=rnd,
            mode="append",
            base_round=rnd - 1,
            counters=counters,
            lineage=lineage,
        )
        import functools

        c1_jobs = (
            functools.reduce(lambda a, b: a.unionByName(b), c1_frames)
            if c1_frames
            else None
        )
        warehouse.merge_round(self.catalog, self.spark, parsed, c1_jobs, rnd)
        # seen is append-only: commit only the new keys (O(delta))
        self.catalog.write(
            "seen",
            parsed.select(
                "url_canon",
                F.sha2(F.col("url_canon"), 256).alias("url_sha2"),
                F.lit(rnd).alias("first_round"),
            ),
            round_no=rnd,
            mode="append",
            base_round=rnd - 1,
            counters=counters,
        )
        if self.seen_filter == "cuckoo":
            from crawlspark.cuckoo import build_cuckoo

            self.catalog.write(
                "seen_cuckoo",
                build_cuckoo(seen_new, n_shards=self.bloom_shards),
                round_no=rnd,
            )
        elif self.seen_filter == "bloom":
            delta_keys = parsed.select("url_canon")
            prior = (
                self.catalog.read_as_of_round("seen_bloom", rnd - 1)
                if self.catalog.exists("seen_bloom")
                else None
            )
            if prior is None:
                new_bloom = build_bloom(seen_new, n_shards=self.bloom_shards)
            else:
                # O(delta) incremental OR-in; full rebuild only when the
                # load factor exceeds the sizing (fp-rate knob — the
                # exact anti-join keeps correctness either way)
                stats = prior.agg(
                    F.sum(F.coalesce(F.col("n_keys"), F.lit(0))).alias("k"),
                    F.sum("n_bits").alias("b"),
                ).collect()[0] if "n_keys" in prior.columns else None
                overloaded = (
                    stats is None
                    or (int(stats["k"] or 0) + n_fetched) * 12 > int(stats["b"])
                )
                new_bloom = (
                    build_bloom(seen_new, n_shards=self.bloom_shards)
                    if overloaded
                    else update_bloom(prior, delta_keys, self.bloom_shards)
                )
            self.catalog.write("seen_bloom", new_bloom, round_no=rnd)
        self.catalog.write(
            "frontier",
            pending.select(*FRONTIER_SCHEMA_COLS).unionByName(
                retry.select(*FRONTIER_SCHEMA_COLS)
            ),
            round_no=rnd,
            counters=counters,
        )
        search_log = self.spark.createDataFrame(log_rows or [], LOG_SCHEMA)
        self.catalog.write(
            "crawl_log",
            search_log.unionByName(detail_log),
            round_no=rnd,
            mode="append",
            base_round=rnd - 1,
            counters=counters,
            lineage=lineage,
        )
        return counters

    # ------------------------------------------------------------------
    def _careerone_chain(self, rnd, seed, take, log_rows, c1_frames) -> None:
        """Probe page 1 → page-count math (C15/F-M) → fan-out fetch of
        pages range(1, n) from the cached chain slice → from_json
        extraction (E5), all budget-capped."""
        probe_url = seed["url"]
        host = host_of(probe_url)
        if not self._allowed(probe_url) or not take(host):
            return
        probe = self._chain_html(probe_url)
        log_rows.append(
            (rnd, "search", "careerone", seed["seed_idx"], 0, -1, probe_url,
             host, probe is not None)
        )
        if probe is None:
            return
        n_pages = page_count(probe)
        base = probe_url.rsplit("page=", 1)[0]
        page_urls = []
        for p in range(1, n_pages):  # faithful off-by-one (:1109)
            if not take(host):
                break
            url = f"{base}page={p}"
            html = self._chain_html(url)
            log_rows.append(
                (rnd, "search", "careerone", seed["seed_idx"], p, -1, url,
                 host, html is not None)
            )
            if html is not None:
                page_urls.append(url)
        if not page_urls:
            return
        urls_df = self.spark.createDataFrame(
            [(u,) for u in page_urls], "url string"
        )
        fetched = self._chain_pages_df.join(F.broadcast(urls_df), "url", "inner")
        jobs = fetched.select(
            "url",
            "warc_ts",
            F.posexplode(careerone_jobs_col(F.col("html"))).alias("job_idx", "job"),
        ).select(
            "url",
            "warc_ts",
            "job_idx",
            F.col("job.*"),
            F.lit(seed["searched_role"]).alias("searched_role"),
            F.lit(seed["searched_location"]).alias("searched_location"),
            F.lit(rnd).alias("round"),
        )
        c1_frames.append(jobs)

    # ------------------------------------------------------------------
    def _state_as_of(self, table: str, schema: str, round_no: int) -> DataFrame:
        """State read for round ``round_no + 1``: the latest snapshot
        committed by a round ≤ round_no — snapshots left behind by a
        crashed, uncommitted round are ignored (resume correctness)."""
        if not self.catalog.exists(table):
            return self.spark.createDataFrame([], schema)
        df = self.catalog.read_as_of_round(table, round_no)
        return df if df is not None else self.spark.createDataFrame([], schema)

    def expire_seen(self, before_round: int) -> int:
        """Recrawl/refresh policy: drop seen entries first crawled
        before ``before_round`` so the frontier re-schedules those URLs
        on their next discovery. Engine extension beyond the reference
        (which never refreshes; its ON CONFLICT upsert just absorbs
        accidental recrawls — which is exactly why expiry is safe: a
        refreshed fetch upserts in place).

        Commits a new ``seen`` snapshot (tagged with the last committed
        round, so resume semantics are untouched) and maintains the
        seen filter: cuckoo deletes the expired keys in place
        (O(expired)); bloom cannot delete → full rebuild.
        Returns the number of expired entries."""
        last = self.catalog.last_committed_round("crawl_log")
        seen = self._state_as_of("seen", SEEN_SCHEMA, last)
        keep = seen.filter(F.col("first_round") >= before_round)
        expired = seen.filter(F.col("first_round") < before_round)
        expired.cache()
        n_expired = expired.count()
        self.catalog.write("seen", keep, round_no=last)
        if self.seen_filter == "cuckoo" and self.catalog.exists("seen_cuckoo"):
            from crawlspark.cuckoo import delete_from_cuckoo

            ck = self.catalog.read_as_of_round("seen_cuckoo", last)
            self.catalog.write(
                "seen_cuckoo",
                delete_from_cuckoo(
                    ck, expired.select("url_canon"), self.bloom_shards
                ),
                round_no=last,
            )
        elif self.seen_filter == "bloom" and self.catalog.exists("seen_bloom"):
            self.catalog.write(
                "seen_bloom",
                build_bloom(keep, n_shards=self.bloom_shards),
                round_no=last,
            )
        expired.unpersist()
        return n_expired

    def run(self, n_rounds: int, resume: bool = True) -> list[dict]:
        start = 0
        if resume:
            start = self.catalog.last_committed_round("crawl_log") + 1
        out = []
        for r in range(start, n_rounds):
            out.append(self.run_round(r))
        return out


FRONTIER_SCHEMA_COLS = [
    "url", "site", "searched_role", "searched_location",
    "disc_round", "seed_idx", "depth", "link_idx", "attempts",
    "url_canon", "host", "path_q",
]
