"""Crawl-ordering + seen-set replay tests (SURVEY §5.2): the Spark
engine must produce the same ordered fetch log and the same URL-seen
set as the pure-Python reference simulator, given the same seed list
and politeness budget — the north rule's replay contract.

Canonical log order: (round, phase search-before-detail, seed_idx,
depth, link_idx) — exactly the simulator's emission order (search
fetches in site/chain order, then detail fetches in discovery-key
order)."""

from __future__ import annotations

import tempfile

import pytest

from crawlspark.fixtures import (
    gen_pages_rows,
    gen_seeds,
    politeness_rows,
    robots_rows,
)
from crawlspark.scheduler import CrawlEngine
from crawlspark.simulator import ReferenceSimulator
from crawlspark.tableio import SnapshotCatalog

N_ROUNDS = 3


def _sim(round_seconds):
    sim = ReferenceSimulator(
        {r["url"]: r["html"] for r in gen_pages_rows(42, "tiny")},
        gen_seeds("tiny"),
        politeness_rows(),
        robots_rows(42, "tiny"),
        round_seconds=round_seconds,
    )
    sim.run(N_ROUNDS)
    return sim


def _engine(spark, pages, round_seconds, **kw):
    cat = SnapshotCatalog(tempfile.mkdtemp(), spark)
    eng = CrawlEngine(
        spark, cat, pages, gen_seeds("tiny"), politeness_rows(),
        robots_rows(42, "tiny"), round_seconds=round_seconds, **kw,
    )
    eng.run(N_ROUNDS, resume=False)
    return cat


LOG_SORT = ["round", "phase_rank", "seed_idx", "depth", "link_idx"]


def _engine_log(cat):
    import pyspark.sql.functions as F

    df = cat.read("crawl_log").withColumn(
        "phase_rank", F.when(F.col("phase") == "search", 0).otherwise(1)
    )
    return [
        (r["round"], r["phase"], r["url"], r["host"], r["ok"])
        for r in df.orderBy(*LOG_SORT).collect()
    ]


def _sim_log(sim):
    rows = [
        (d["round"], 0 if d["phase"] == "search" else 1, d["seed_idx"],
         d["depth"], d["link_idx"], d)
        for d in sim.state.log
    ]
    rows.sort(key=lambda t: t[:5])
    return [
        (d["round"], d["phase"], d["url"], d["host"], d["ok"])
        for *_, d in rows
    ]


@pytest.mark.parametrize("round_seconds", [600.0, 60.0])
def test_replay_matches_simulator(spark, tiny_pages, round_seconds):
    """Ample budget AND budget contention (60 s → per-host caps bind:
    jora capacity floor(60/8)*4=28, seek floor(60/5)*4=48)."""
    sim = _sim(round_seconds)
    cat = _engine(spark, tiny_pages, round_seconds)
    eng_seen = {r["url_canon"] for r in cat.read("seen").collect()}
    assert eng_seen == sim.state.seen
    assert _engine_log(cat) == _sim_log(sim)
    # extracted URLs (seek/jora detail artifacts) match too
    eng_ex = {
        (r["url"], r["site"]) for r in cat.read("extracted").collect()
    }
    sim_ex = {
        (u, s) for (u, s, _r) in sim.state.extracted if s in ("seek", "jora")
    }
    assert eng_ex == sim_ex


def test_bloom_off_identical(spark, tiny_pages):
    """seen_filter="exact" (exact join only) must be observationally
    identical — bloom is purely a physical optimization."""
    cat_on = _engine(spark, tiny_pages, 600.0, seen_filter="bloom")
    cat_off = _engine(spark, tiny_pages, 600.0, seen_filter="exact")
    seen_on = {r["url_canon"] for r in cat_on.read("seen").collect()}
    seen_off = {r["url_canon"] for r in cat_off.read("seen").collect()}
    assert seen_on == seen_off
    assert _engine_log(cat_on) == _engine_log(cat_off)


def test_seen_warm_start(spark, tiny_pages):
    """Pre-existing seen rows (near-miss variants canonicalizing to the
    same key) must never be re-fetched: engine and simulator agree."""
    from crawlspark.fixtures import gen_seen0
    import pyspark.sql.functions as F

    seen0 = gen_seen0(42, "tiny")
    assert seen0, "fixture should produce a warm-start set"
    sim = ReferenceSimulator(
        {r["url"]: r["html"] for r in gen_pages_rows(42, "tiny")},
        gen_seeds("tiny"), politeness_rows(), robots_rows(42, "tiny"),
        round_seconds=600.0, seen0={d["url_canon"] for d in seen0},
    )
    sim.run(N_ROUNDS)

    cat = SnapshotCatalog(tempfile.mkdtemp(), spark)
    cat.write(
        "seen",
        spark.createDataFrame(
            [(d["url_canon"], d["url_sha2"], d["first_round"]) for d in seen0],
            "url_canon string, url_sha2 string, first_round int",
        ),
        round_no=-1,
    )
    eng = CrawlEngine(
        spark, cat, tiny_pages, gen_seeds("tiny"), politeness_rows(),
        robots_rows(42, "tiny"), round_seconds=600.0,
    )
    eng.run(N_ROUNDS, resume=False)
    eng_seen = {r["url_canon"] for r in cat.read("seen").collect()}
    assert eng_seen == sim.state.seen
    assert _engine_log(cat) == _sim_log(sim)


def test_persist_lifecycle_no_growth(spark, tiny_pages):
    """Round-owned stage checkpoints (bloom probe, pop input, robots
    gate, pop output, fetch, parse, merge rows) must be released after
    each round: the persisted-RDD count
    after a multi-round run may exceed the pre-run count only by the
    engine's one long-lived cache (the chain-page slice)."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    _engine(spark, tiny_pages, 600.0)
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 1, f"persisted RDDs grew {before} -> {after}"


# Spark jobs of the second tiny-fixture round (bloom probe active),
# measured with every stage boundary a lazy localCheckpoint; nested
# persists ran 62 here.
ROUND_JOBS_MAX = 43


def _new_engine(spark, cat, pages):
    return CrawlEngine(
        spark, cat, pages, gen_seeds("tiny"), politeness_rows(),
        robots_rows(42, "tiny"), round_seconds=600.0,
    )


def test_round_job_count_pinned(spark, tiny_pages):
    """A round runs at most ROUND_JOBS_MAX Spark jobs, counted through
    the status tracker for the round's own job group: re-pinning a
    stage with a persist (which re-plans every cached plan it nests)
    or re-running a stage per branch fails here."""
    sc = spark.sparkContext
    eng = _new_engine(spark, SnapshotCatalog(tempfile.mkdtemp(), spark), tiny_pages)
    eng.run_round(0)
    group = "test-replay-round-jobs"
    sc.setJobGroup(group, group)
    try:
        eng.run_round(1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= ROUND_JOBS_MAX, f"round 1 ran {n_jobs} Spark jobs"


def test_failed_commit_releases_round_frames(spark, tiny_pages, monkeypatch):
    """A commit that raises leaks no round-owned frame, and resume
    replays the failed round to the simulator's log. Round 0 commits
    first so the engine's long-lived chain-page cache is already
    materialized; after that the failed round may add no persisted RDD
    (ids, not sizes: ContextCleaner may drop unrelated RDDs meanwhile)."""
    cat = SnapshotCatalog(tempfile.mkdtemp(), spark)
    eng = _new_engine(spark, cat, tiny_pages)
    eng.run_round(0)
    jsc = spark.sparkContext._jsc

    class Boom(RuntimeError):
        pass

    orig_write = SnapshotCatalog.write

    def failing_write(self, table, df, **kw):
        if table == "frontier":
            raise Boom()
        return orig_write(self, table, df, **kw)

    before = set(jsc.getPersistentRDDs().keySet())
    monkeypatch.setattr(SnapshotCatalog, "write", failing_write)
    with pytest.raises(Boom):
        eng.run_round(1)
    monkeypatch.undo()
    leaked = set(jsc.getPersistentRDDs().keySet()) - before
    assert not leaked, f"failed round left persisted RDDs {sorted(leaked)}"

    assert cat.last_committed_round("crawl_log") == 0
    _new_engine(spark, cat, tiny_pages).run(N_ROUNDS, resume=True)
    assert _engine_log(cat) == _sim_log(_sim(600.0))
