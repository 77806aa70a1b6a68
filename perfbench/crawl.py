"""``crawl_backlog`` workload: inject a backlog, then one scheduling round.

One unit injects the backlog into an empty catalog, committed at round -1:
the seen set, its bloom filter, and the backlog canonicalized with
``urlnorm.attach_canonical`` and written with
``SnapshotCatalog.write("frontier", ..., round_no=-1)``. It then builds a
``CrawlEngine`` on that catalog and runs ``run_round(0)``. Every unit starts
from an empty catalog and does the same work. The timed unit is the first
of the process (no warm-up).

The unit carries both crawl cost shapes: the fixed per-round cost (search
chain walks, ~65 Spark jobs, six table commits, the bucketed job_metadata
merge) and a data-volume part (canonicalize, bloom build and probe, robots
gate, a contended per-host pop and detail parsing over the backlog).

Inputs come from the workload seed: the "tiny" page fixture
(``fixtures.gen_pages_rows(seed, "tiny")``), its robots rules, a backlog
of ``BACKLOG_URLS`` non-search page URLs picked by a seeded hash, and
exactly a fifth of them, also picked by a seeded hash, marked as already
seen. The sizes do not depend on the seed, so neither does the amount of
work. Backlog rows get unique discovery keys ``(-1, -1, 0, i)`` so the
engine and the simulator break ties the same way. ``round_seconds=60``
makes the token bucket contend on the Zipf-hot hosts at this size.

Each unit is checked against ``simulator.ReferenceSimulator`` seeded with
the same backlog and seen set: the round's fetch log (as a multiset), the
seen set and the carried-over frontier must match exactly.
"""

from __future__ import annotations

import collections
import contextlib
import hashlib
import os
import re
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from spans import patched, set_group

SCALE = "tiny"
ROUND_SECONDS = 60.0
BACKLOG_URLS = 600  # every seed from 0 to 299 has at least 620
SEEN_SHARE = 5  # one URL in five is already seen
DETAIL_RE = re.compile(r"seek\.com\.au/job/|au\.jora\.com/job/")
# crawl_log columns, in the order the engine writes them
LOG_FIELDS = ("round", "phase", "site", "seed_idx", "depth", "link_idx", "url", "host", "ok")
BACKLOG_FIELDS = [
    ("url", pa.string()),
    ("site", pa.string()),
    ("searched_role", pa.string()),
    ("searched_location", pa.string()),
    ("disc_round", pa.int32()),
    ("seed_idx", pa.int32()),
    ("depth", pa.int32()),
    ("link_idx", pa.int32()),
    ("attempts", pa.int32()),
]


def _site(url: str) -> str:
    if "seek.com.au/job/" in url:
        return "seek"
    if "au.jora.com/job/" in url:
        return "jora"
    return "generic"


def backlog_urls(urls: list[str]) -> list[str]:
    """Every page URL that is not a search/API page the chain walks fetch
    (the engine's chain slice) and not a robots.txt body."""
    from crawlspark.scheduler import SITE_URL_PREFIXES

    prefixes = tuple(SITE_URL_PREFIXES.values())
    return sorted(
        u
        for u in urls
        if not u.endswith("/robots.txt")
        and not (u.startswith(prefixes) and not DETAIL_RE.search(u))
    )


class CrawlWorkload:
    name = "crawl_backlog"
    # No warm-up: the timed unit is the first one of a fresh engine
    # process, as under a scheduler that launches one spark-submit per round
    # (jobs/run_rounds.py). A warm-up unit would add ~50 s (cold) to a run
    # that already takes ~70 s on a 4-core VM; the time budget for a full
    # schedule of runs of both workloads does not allow it.
    warmup_units = 0

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.pages_path = os.path.join(work, "pages.parquet")
        self.backlog_path = os.path.join(work, "backlog.parquet")
        self.seen_path = os.path.join(work, "seen.parquet")
        self.n_units = 0

    # -- inputs -----------------------------------------------------------
    def prepare_inputs(self) -> None:
        """Materialize the pages and backlog parquet files and compute the
        simulator's expected round."""
        from crawlspark import fixtures
        from crawlspark.pipeline_bench import write_small_pages_parquet
        from crawlspark.simulator import Candidate, ReferenceSimulator
        from crawlspark.urlnorm import canonicalize, host_of

        write_small_pages_parquet(self.pages_path, self.seed, SCALE)
        pages = {r["url"]: r["html"] for r in fixtures.gen_pages_rows(self.seed, SCALE)}
        urls = backlog_urls(list(pages))
        if len(urls) < BACKLOG_URLS:
            raise ValueError(f"seed {self.seed}: only {len(urls)} backlog URLs")
        urls = sorted(
            urls, key=lambda u: fixtures.h_int(self.seed, "perfbench-backlog", u)
        )[:BACKLOG_URLS]
        rows = [
            (u, _site(u), "", "", -1, -1, 0, i, 0) for i, u in enumerate(urls)
        ]
        pq.write_table(
            pa.table(
                {f: pa.array(col, t) for (f, t), col in zip(BACKLOG_FIELDS, zip(*rows))}
            ),
            self.backlog_path,
        )
        by_hash = sorted(urls, key=lambda u: fixtures.h_int(self.seed, "perfbench-seen", u))
        seen0 = sorted({canonicalize(u) for u in by_hash[: BACKLOG_URLS // SEEN_SHARE]})
        pq.write_table(
            pa.table(
                {
                    "url_canon": pa.array(seen0, pa.string()),
                    "url_sha2": pa.array(
                        [hashlib.sha256(c.encode()).hexdigest() for c in seen0],
                        pa.string(),
                    ),
                    "first_round": pa.array([-1] * len(seen0), pa.int32()),
                }
            ),
            self.seen_path,
        )
        self.seeds = fixtures.gen_seeds(SCALE)
        self.politeness = fixtures.politeness_rows()
        self.robots = fixtures.robots_rows(self.seed, SCALE)
        sim = ReferenceSimulator(
            pages,
            self.seeds,
            self.politeness,
            self.robots,
            round_seconds=ROUND_SECONDS,
            seen0=set(seen0),
        )
        sim.state.frontier = [
            Candidate(
                url=u,
                url_canon=canonicalize(u),
                host=host_of(u),
                site=site,
                searched_role=role,
                searched_location=loc,
                discovery_key=(rnd, sidx, depth, li),
            )
            for u, site, role, loc, rnd, sidx, depth, li, _ in rows
        ]
        sim.run_round(0)
        self.expected_log = collections.Counter(
            tuple(e[k] for k in LOG_FIELDS) for e in sim.state.log
        )
        self.expected_seen = set(sim.state.seen)
        self.expected_frontier = collections.Counter(
            (c.url_canon, c.attempts) for c in sim.state.frontier
        )
        self.expected_fetched = sum(
            1 for e in sim.state.log if e["phase"] == "detail" and e["ok"]
        )

    def build_state(self) -> None:
        self.pages = self.spark.read.parquet(self.pages_path)

    # -- one unit ---------------------------------------------------------
    def inject(self, cat) -> None:
        """Commit the seen set, its bloom filter and the canonicalized
        backlog as the frontier at round -1. The layer functions are looked
        up on ``scheduler`` at call time, so a traced unit's wrappers see
        these calls too."""
        from crawlspark import scheduler

        cat.write("seen", self.spark.read.parquet(self.seen_path), round_no=-1)
        cat.write("seen_bloom", scheduler.build_bloom(cat.read("seen")), round_no=-1)
        backlog = self.spark.read.parquet(self.backlog_path)
        cat.write(
            "frontier",
            scheduler.attach_canonical(backlog).select(*scheduler.FRONTIER_SCHEMA_COLS),
            round_no=-1,
        )

    def _unit(self, catalog_cls, engine_hook=None):
        """Inject the backlog into an empty catalog and run round 0 on it."""
        from crawlspark.scheduler import CrawlEngine
        from crawlspark.tableio import SnapshotCatalog

        root = os.path.join(self.work, f"unit{self.n_units}")
        self.n_units += 1
        t0 = time.perf_counter()
        cat = catalog_cls(root, self.spark)
        self.inject(cat)
        eng = CrawlEngine(
            self.spark,
            cat,
            self.pages,
            self.seeds,
            self.politeness,
            self.robots,
            round_seconds=ROUND_SECONDS,
        )
        if engine_hook is not None:
            engine_hook(eng)
        counters = eng.run_round(0)
        wall = time.perf_counter() - t0
        ok = self._check(SnapshotCatalog(root, self.spark), counters)
        self.spark.catalog.clearCache()
        shutil.rmtree(root, ignore_errors=True)
        return wall, counters, ok

    def _check(self, cat, counters: dict) -> bool:
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        set_group(sc, "check")
        try:
            return self._compare(cat, counters)
        finally:
            set_group(sc, prev)

    def _compare(self, cat, counters: dict) -> bool:
        log = collections.Counter(
            tuple(r) for r in cat.read("crawl_log").collect()
        )
        seen = {r["url_canon"] for r in cat.read_as_of_round("seen", 0).collect()}
        frontier = collections.Counter(
            (r["url_canon"], r["attempts"])
            for r in cat.read_as_of_round("frontier", 0)
            .select("url_canon", "attempts")
            .collect()
        )
        return (
            log == self.expected_log
            and seen == self.expected_seen
            and frontier == self.expected_frontier
            and counters["fetched_ok"] == self.expected_fetched
        )

    def run_unit(self) -> tuple[float, int, bool]:
        from crawlspark.tableio import SnapshotCatalog

        wall, counters, ok = self._unit(SnapshotCatalog)
        return wall, counters["fetched_ok"], ok

    # -- traced unit ------------------------------------------------------
    def run_traced_unit(self, tracer, udf_profile) -> tuple[float, int, bool, dict]:
        """The same unit with a span around every layer call the round
        makes; ``udf_profile(functions)`` reads the unit's Python UDF
        profile."""
        from crawlspark import scheduler, warehouse
        from crawlspark.tableio import SnapshotCatalog

        m: dict[str, float] = collections.defaultdict(float)

        def on_dedup(out, _a, _kw):
            m["bloom.dedup_rows_out"] += tracer.count(out)

        def on_robots(out, _a, _kw):
            m["politeness.blocked"] += tracer.count(out.filter(~out["allowed"]))

        def on_pop(out, _a, _kw):
            popped = tracer.count(out.filter(out["popped"]))
            m["politeness.popped"] += popped
            m["politeness.pending"] += tracer.count(out) - popped

        dedup = tracer.wrap(scheduler.dedup_against_seen, "bloom.dedup", on_dedup)

        def dedup_forced_input(cand, *args, **kwargs):
            # the in-batch window over frontier + new candidates is the
            # scheduler's own work: force it before the bloom span opens
            cand = cand.localCheckpoint(eager=True)
            m["bloom.dedup_rows_in"] += tracer.count(cand)
            return dedup(cand, *args, **kwargs)

        class TracedCatalog(SnapshotCatalog):
            def write(self, table, df, *args, **kwargs):
                with tracer.span(f"tableio.write.{table}"):
                    sid = super().write(table, df, *args, **kwargs)
                self._account(table, sid)
                return sid

            def write_bucketed(self, table, df, touched, *args, **kwargs):
                with tracer.span(f"tableio.write.{table}"):
                    sid = super().write_bucketed(table, df, touched, *args, **kwargs)
                m["warehouse.touched_buckets"] += len(touched)
                m["warehouse.merge_rows"] += self._account(table, sid)
                return sid

            def read_as_of_round(self, table, round_no):
                with tracer.span("tableio.read"):
                    out = super().read_as_of_round(table, round_no)
                hist = [
                    e for e in self.history(table)
                    if e["round"] is not None and e["round"] <= round_no
                ]
                if hist:
                    m["tableio.read_dirs_total"] += len(
                        hist[-1].get("buckets") or hist[-1]["dirs"]
                    )
                    m["tableio.reads"] += 1
                return out

            def _account(self, table, sid) -> int:
                """Bytes and files of the snapshot's new data dir, from the
                file system; returns its rows, from parquet footers (no
                Spark job)."""
                n_rows = 0
                for dirpath, _dirs, files in os.walk(
                    os.path.join(self.root, table, f"snap-{sid:06d}")
                ):
                    for f in files:
                        path = os.path.join(dirpath, f)
                        m["tableio.bytes_written"] += os.path.getsize(path)
                        if f.endswith(".parquet"):
                            m["tableio.files_written"] += 1
                            n_rows += pq.read_metadata(path).num_rows
                return n_rows

        def hook(eng):
            for meth in ("_load_chain_pages", "_chain_html", "_careerone_chain"):
                setattr(eng, meth, tracer.wrap(getattr(eng, meth), "scheduler.discovery"))

        wrappers = {
            (scheduler, "attach_canonical"): tracer.wrap(
                scheduler.attach_canonical, "urlnorm.canon"
            ),
            (scheduler, "dedup_against_seen"): dedup_forced_input,
            (scheduler, "apply_robots"): tracer.wrap(
                scheduler.apply_robots, "politeness.robots", on_robots
            ),
            (scheduler, "pop_per_host"): tracer.wrap(
                scheduler.pop_per_host, "politeness.pop", on_pop
            ),
            (scheduler, "build_bloom"): tracer.wrap(scheduler.build_bloom, "bloom.build"),
            (scheduler, "update_bloom"): tracer.wrap(scheduler.update_bloom, "bloom.update"),
            (warehouse, "merge_round"): tracer.wrap(warehouse.merge_round, "warehouse.merge"),
        }
        with contextlib.ExitStack() as stack:
            for (module, name), fn in wrappers.items():
                stack.enter_context(patched(module, name, fn))
            wall, counters, ok = self._unit(TracedCatalog, hook)
        udf = udf_profile(
            {"canonicalize_batch", "canonicalize", "_probe", "parse_detail_udf", "_parse_one"}
        )
        secs = tracer.span_seconds()
        out = {k: m[k] for k in (
            "bloom.dedup_rows_in", "bloom.dedup_rows_out", "politeness.blocked",
            "politeness.popped", "politeness.pending", "tableio.bytes_written",
            "tableio.files_written", "warehouse.touched_buckets", "warehouse.merge_rows",
        )}
        out.update(
            {
                "scheduler.discovery_s": tracer.outer_seconds("scheduler.discovery"),
                "scheduler.self_s": wall - tracer.top_level_seconds(),
                "scheduler.fetch_ok_ratio": counters["fetched_ok"] / max(counters["popped"], 1),
                "urlnorm.canon_s": secs.get("urlnorm.canon", 0.0),
                "urlnorm.canon_rows": udf["calls"]["canonicalize"],
                "urlnorm.canon_udf_s": udf["seconds"]["canonicalize_batch"],
                "bloom.dedup_s": secs.get("bloom.dedup", 0.0),
                "bloom.build_s": secs.get("bloom.build", 0.0),
                "bloom.update_s": secs.get("bloom.update", 0.0),
                "bloom.probe_udf_s": udf["seconds"]["_probe"],
                "politeness.robots_s": secs.get("politeness.robots", 0.0),
                "politeness.pop_s": secs.get("politeness.pop", 0.0),
                "politeness.pop_jobs": tracer.jobs_by_group().get("politeness.pop", 0),
                "parsers.parse_udf_s": udf["seconds"]["parse_detail_udf"],
                "parsers.parse_rows": udf["calls"]["_parse_one"],
                "tableio.read_dirs": m["tableio.read_dirs_total"] / max(m["tableio.reads"], 1),
                "warehouse.merge_s": secs.get("warehouse.merge", 0.0),
                "spark.python_udf_s": udf["total"],
            }
        )
        for table in ("extracted", "seen", "seen_bloom", "frontier", "crawl_log", "job_metadata"):
            out[f"tableio.write_s.{table}"] = secs.get(f"tableio.write.{table}", 0.0)
        return wall, counters["fetched_ok"], ok, out
