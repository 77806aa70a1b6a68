"""Structured Streaming surface — live monitoring over the engine's
append-only tables.

The reference is cron batch (no streams, SURVEY §2.6), and the north
rule keeps the crawl itself as batch rounds. Streaming enters as the
*monitoring* plane, which a production crawl needs: the snapshot
catalog's append-only tables (``crawl_log``, ``extracted``) grow by
immutable parquet files per round, which is exactly Spark's file
streaming source contract — so the same storage does double duty as a
stream without a broker.

* ``stream_crawl_log_live`` — one long-running query that follows a
  catalog's committed crawl_log snapshots and keeps per-(round, host)
  fetch/error counts in a parquet sink: a live politeness/health
  dashboard feed (read it back with ``read_crawl_log_live``).
* ``stream_host_health`` — per-host fetch health carried across
  triggers in ``applyInPandasWithState``.
* ``stream_events`` / ``stream_sessions`` / ``stream_dedup`` — generic
  watermarked aggregations over an events-shaped directory (ts,
  event_type, value), the same semantics as the batch driver queries,
  so batch output is the streaming oracle.

Except the live monitor (which starts itself), these return unstarted
streaming DataFrames; callers pick sink + trigger. Tests drive them
with ``availableNow`` into memory sinks and compare against the batch
equivalent — late-data semantics come from the watermark (events later
than the watermark horizon drop).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CRAWL_LOG_SCHEMA = (
    "round int, phase string, site string, seed_idx int, depth int, "
    "link_idx int, url string, host string, ok boolean"
)


def _committed_dir_filter(catalog_root: str, table: str):
    """Predicate keeping only files under MANIFEST-COMMITTED snapshot
    dirs. The file-source glob alone would also ingest (a) orphan
    snap-* dirs from a crashed, never-committed round — which the
    catalog's recovery contract says are never referenced again — and
    (b) dirs a concurrent expire_snapshots may delete; both would skew
    the monitoring counts (ADVICE r2). The committed set is resolved
    ONCE, when the source is built — so a query over this filter only
    sees snapshots committed before it started: rebuild it per poll
    (``stream_host_health``'s contract). ``stream_crawl_log_live``
    instead re-resolves the manifest per micro-batch."""
    committed = _committed_data_dirs(catalog_root, table)
    snap_dir = F.regexp_extract(F.input_file_name(), r"(snap-\d+)", 1)
    return snap_dir.isin(*sorted(committed)) if committed else F.lit(False)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _committed_data_dirs(catalog_root: str, table: str) -> set[str]:
    """All MANIFEST-COMMITTED immutable data dirs of ``table`` (the
    union over snapshots of their referenced snap-*/ dirs — append-mode
    snapshots share base dirs, so the union is exactly the committed
    file set and never an orphan)."""
    import json

    manifest_path = os.path.join(catalog_root, table, "manifest.json")
    committed: set[str] = set()
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        for e in manifest["snapshots"]:
            committed.update(e.get("dirs", []))
            committed.update(
                v.split("/", 1)[0] for v in (e.get("buckets") or {}).values()
            )
    return committed


def stream_crawl_log_live(
    spark: SparkSession,
    catalog_root: str,
    out_dir: str,
    checkpoint: str,
    rows_per_second: int = 4,
):
    """CONTINUOUS crawl-log monitor — one long-running query that picks
    up rounds committed AFTER it started.

    A plain file source cannot re-read the manifest per micro-batch
    (its committed-dir filter is frozen at build time), so discovery is
    MANIFEST-DRIVEN instead of listing-driven: a rate source acts as
    the micro-batch clock, and ``foreachBatch`` re-resolves the
    catalog's committed snapshot dirs each tick, batch-reads only the
    not-yet-processed dirs, and appends their per-(round, host, dir)
    fetch/error counts to a parquet sink. Orphan snap-* dirs from a
    crashed round are structurally excluded — they are never in the
    manifest — rather than filtered after listing (the ADVICE r2
    double-count bug cannot occur).

    Exactly-once across restarts: each immutable data dir is one unit
    of work; output is partitioned by ``src_snap`` and written with
    DYNAMIC partition overwrite, then the dir is marked done in
    ``<out_dir>/_processed.json`` (atomic ``os.replace``). A crash
    between the two steps reprocesses that dir and overwrites its own
    partition with identical rows — idempotent, no double count.

    Per-dir grain also keeps each micro-batch O(new rounds): processed
    dirs are never re-read. Read the monitor output with
    ``read_crawl_log_live`` (sums dirs back to per-(round, host)).

    Returns the started StreamingQuery; caller owns ``stop()``."""
    import json

    os.makedirs(out_dir, exist_ok=True)
    state_path = os.path.join(out_dir, "_processed.json")
    data_dir = os.path.join(out_dir, "data")

    def process(_batch_df, _batch_id: int) -> None:
        done: set[str] = set()
        if os.path.exists(state_path):
            with open(state_path) as f:
                done = set(json.load(f)["dirs"])
        new = sorted(_committed_data_dirs(catalog_root, "crawl_log") - done)
        if not new:
            return
        paths = [os.path.join(catalog_root, "crawl_log", d) for d in new]
        rows = (
            spark.read.schema(CRAWL_LOG_SCHEMA)
            .parquet(*paths)
            .withColumn(
                "src_snap", F.regexp_extract(F.input_file_name(), r"(snap-\d+)", 1)
            )
        )
        (
            rows.groupBy("round", "host", "src_snap")
            .agg(
                F.count("*").alias("fetches"),
                F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("failures"),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("src_snap")
            .parquet(data_dir)
        )
        tmp = state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"dirs": sorted(done | set(new))}, f)
        os.replace(tmp, state_path)

    clock = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return (
        clock.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def read_crawl_log_live(spark: SparkSession, out_dir: str) -> DataFrame:
    """Batch view over a live monitor's sink: per-(round, host) totals
    (summing the per-dir partials): round, host, fetches, failures."""
    return (
        spark.read.parquet(os.path.join(out_dir, "data"))
        .groupBy("round", "host")
        .agg(
            F.sum("fetches").alias("fetches"), F.sum("failures").alias("failures")
        )
    )


def stream_events(
    spark: SparkSession,
    events_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (late data beyond the
    watermark horizon is dropped — the streaming analog of the batch
    windowed_events query)."""
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(events_dir)
    )
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_dedup(
    spark: SparkSession,
    events_dir: str,
    keys: tuple[str, ...] = ("user_id", "event_type"),
) -> DataFrame:
    """Streaming EXACT dedup: emit each distinct key combination once,
    the first time it is seen, with state carried across micro-batches
    (the streaming twin of batch SELECT DISTINCT — and of the
    frontier's seen-URL gate). Output is the key set only: WHICH
    physical row arrives first per key is micro-batch-order dependent,
    the set of keys is not, so the result is deterministic and batch-
    comparable.

    State is one entry per distinct key. At 100 TB bound it: use
    dropDuplicatesWithinWatermark when keys only repeat within an
    event-time horizon, or the bloom/cuckoo seen-sidecar (bloom.py)
    when they repeat forever."""
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(events_dir)
    )
    return src.select(*keys).dropDuplicates(list(keys))


def stream_sessions(
    spark: SparkSession,
    events_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked SESSION-window aggregation (gap-based session close
    — the streaming twin of the batch ``sessionize`` driver query's
    semantics): per (user, session) event counts and bounds. Late
    events beyond the watermark drop; sessions merge as the gap
    dictates. Tested with availableNow against the batch
    ``session_window`` aggregation (identical semantics by contract)."""
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(events_dir)
    )
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


HEALTH_OUT_SCHEMA = "host string, total long, failures long, fail_streak long"
HEALTH_STATE_SCHEMA = "total long, failures long, streak long"

# canonical per-host fold order for the crawl log (matches the replay
# suite's LOG_SORT with phase ranked search-before-detail)
_LOG_ORDER = ["round", "phase_rank", "seed_idx", "depth", "link_idx"]


def stream_host_health(spark: SparkSession, catalog_root: str) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    per-host crawl health carried across triggers — total fetches,
    total failures, and the current consecutive-failure streak (the
    signal a production crawl uses to quarantine a dying host).

    State is one narrow tuple per host; within each trigger the rows
    fold in the canonical log order. Determinism contract: each
    trigger must hold whole rounds — so NO maxFilesPerTrigger here
    (a file-count split could land half a round's part files in the
    next trigger, folding rows out of order). Each availableNow poll
    drains everything new as one sorted batch; across polls the
    catalog appends rounds in commit order, so poll between round
    commits (the monitoring cadence) and the fold order is total.
    Tested against a pure-Python fold of the same ordered log."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = (
        spark.readStream.schema(CRAWL_LOG_SCHEMA)
        .parquet(os.path.join(catalog_root, "crawl_log", "snap-*"))
        .where(_committed_dir_filter(catalog_root, "crawl_log"))
        .withColumn(
            "phase_rank", F.when(F.col("phase") == "search", 0).otherwise(1)
        )
    )

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        (host,) = key
        total, failures, streak = (
            state.get if state.exists else (0, 0, 0)
        )
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(_LOG_ORDER)
        for ok in rows["ok"]:
            total += 1
            if bool(ok):
                streak = 0
            else:
                failures += 1
                streak += 1
        state.update((total, failures, streak))
        yield pd.DataFrame(
            [
                {
                    "host": host,
                    "total": total,
                    "failures": failures,
                    "fail_streak": streak,
                }
            ]
        )

    return src.groupBy("host").applyInPandasWithState(
        update,
        HEALTH_OUT_SCHEMA,
        HEALTH_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    checkpoint: str,
    output_mode: str = "complete",
):
    """Drain everything currently available into a memory sink and stop
    — the deterministic test/monitoring-poll mode. Stateful operators
    (applyInPandasWithState) require ``output_mode='update'``."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
