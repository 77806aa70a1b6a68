"""Partitioned cuckoo URL-seen filter — the deletion-capable
alternative to the bloom filter (north rule: "bloom/cuckoo").

Same sharding and probe-then-verify contract as crawlspark.bloom:
shards keyed by ``pmod(xxhash64(url_canon), n_shards)``, one
``(shard, buckets, n_buckets, n_keys)`` row per shard, candidates
cogrouped with their shard for the probe (no broadcast, no driver
round-trip), every positive verified by the exact ``left_anti`` join.

Partial-key cuckoo hashing (Fan et al., "Cuckoo Filter: Practically
Better Than Bloom", CoNEXT 2014): 16-bit fingerprints, 4-slot
buckets, two candidate buckets ``i1 = h mod B`` and
``i2 = i1 XOR hash(fp) mod B``, BFS-free random-walk eviction.

Why cuckoo at all: **deletion**. A recrawl/refresh policy removes a
URL from the seen filter when its entry expires so the frontier can
re-schedule it — bloom filters cannot delete. Standard caveat applies:
deleting a key that shares (bucket, fingerprint) with another inserted
key can produce a false NEGATIVE for the survivor; in crawl semantics
that only causes a redundant refetch (the warehouse upsert is
idempotent on the natural key), never wrong output.

Inserts are sequential per shard (eviction chains), so builds are
slower than bloom's vectorized OR — bloom stays the default seen
filter; cuckoo is for deployments that expire seen entries.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawlspark.bloom import _hash64_pair, shard_col

CUCKOO_SCHEMA = "shard int, buckets binary, n_buckets long, n_keys long"

BUCKET_SLOTS = 4
MAX_KICKS = 500


def _fp_and_buckets(values: pd.Series, n_buckets: int):
    """(fingerprints uint16 ≥ 1, bucket1, bucket2) per value.
    ``n_buckets`` MUST be a power of two: the alternate bucket is
    ``i XOR H(fp)`` masked, which is an involution only then (the
    classic cuckoo-filter constraint)."""
    h1, h2 = _hash64_pair(values)
    fp = (h1 & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1  # 0 marks an empty slot
    mask = np.uint64(n_buckets - 1)
    b1 = (h2 & mask).astype(np.int64)
    fph = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & mask
    b2 = np.bitwise_xor(b1.astype(np.uint64), fph).astype(np.int64)
    return fp, b1, b2


def _alt_bucket(fp: int, b: int, n_buckets: int) -> int:
    fph = ((int(fp) * 0x5BD1E995) & 0xFFFFFFFF) & (n_buckets - 1)
    return b ^ fph


def _insert_all(table: np.ndarray, fp, b1, b2, n_buckets: int) -> int:
    """Sequential cuckoo inserts; returns count of keys that could not
    be placed (caller should size to keep this 0)."""
    rng_state = 0x9E3779B97F4A7C15
    failed = 0
    for i in range(len(fp)):
        f, x, y = int(fp[i]), int(b1[i]), int(b2[i])
        placed = False
        for b in (x, y):
            row = table[b]
            for s in range(BUCKET_SLOTS):
                if row[s] == 0:
                    row[s] = f
                    placed = True
                    break
            if placed:
                break
        if placed:
            continue
        # random-walk eviction (deterministic LCG for replayability)
        b = x
        cur = f
        for _ in range(MAX_KICKS):
            rng_state = (rng_state * 6364136223846793005 + 1442695040888963407) % (
                1 << 64
            )
            s = rng_state % BUCKET_SLOTS
            cur, table[b][s] = int(table[b][s]), cur
            b = _alt_bucket(cur, b, n_buckets)
            row = table[b]
            done = False
            for s2 in range(BUCKET_SLOTS):
                if row[s2] == 0:
                    row[s2] = cur
                    done = True
                    break
            if done:
                break
        else:
            failed += 1
    return failed


def build_cuckoo(
    seen: DataFrame,
    n_shards: int = 32,
    load_factor: float = 0.5,
    min_buckets: int = 1024,
    url_col: str = "url_canon",
) -> DataFrame:
    """seen(url_canon) → one cuckoo row per shard. Sized at 50% load
    (2× slots per key) so eviction failures are vanishingly rare; a
    failure raises — resize and rebuild (perf knob only)."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        urls = pdf[url_col]
        need = max(min_buckets, int(len(urls) / (BUCKET_SLOTS * load_factor)) + 1)
        n_buckets = 1 << (need - 1).bit_length()  # power of two (xor trick)
        table = np.zeros((n_buckets, BUCKET_SLOTS), dtype=np.uint16)
        if len(urls):
            fp, b1, b2 = _fp_and_buckets(urls, n_buckets)
            failed = _insert_all(table, fp, b1, b2, n_buckets)
            if failed:
                raise RuntimeError(
                    f"cuckoo shard overflow ({failed} keys): lower "
                    "load_factor / raise n_shards and rebuild"
                )
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0]) if len(pdf) else 0],
                "buckets": [table.tobytes()],
                "n_buckets": [n_buckets],
                "n_keys": [len(urls)],
            }
        )

    sharded = seen.select(
        url_col, shard_col(F.col(url_col), n_shards).alias("shard")
    )
    return sharded.groupBy("shard").applyInPandas(_build, CUCKOO_SCHEMA)


def _probe_np(table: np.ndarray, fp, b1, b2) -> np.ndarray:
    hit1 = (table[b1] == fp[:, None]).any(axis=1)
    hit2 = (table[b2] == fp[:, None]).any(axis=1)
    return hit1 | hit2


def cuckoo_probe(
    candidates: DataFrame,
    cuckoo: DataFrame,
    n_shards: int,
    url_col: str = "url_canon",
) -> DataFrame:
    """Adds boolean ``maybe_seen`` — vectorized two-bucket membership
    test, cogrouped per shard like bloom_probe."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    out_schema = StructType(
        list(candidates.schema.fields) + [StructField("maybe_seen", BooleanType())]
    )
    cols = [f.name for f in candidates.schema.fields]

    def _probe(cand_pdf: pd.DataFrame, ck_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(columns=cols + ["maybe_seen"])
        cand = cand_pdf.drop(columns=["_shard"])
        if ck_pdf.empty:
            cand["maybe_seen"] = False
            return cand
        n_buckets = int(ck_pdf["n_buckets"].iloc[0])
        table = np.frombuffer(ck_pdf["buckets"].iloc[0], dtype=np.uint16).reshape(
            n_buckets, BUCKET_SLOTS
        )
        fp, b1, b2 = _fp_and_buckets(cand_pdf[url_col], n_buckets)
        cand["maybe_seen"] = _probe_np(table, fp, b1, b2)
        return cand

    cand_sharded = candidates.withColumn("_shard", shard_col(F.col(url_col), n_shards))
    return (
        cand_sharded.groupBy("_shard")
        .cogroup(cuckoo.groupBy("shard"))
        .applyInPandas(_probe, out_schema)
    )


def delete_from_cuckoo(
    cuckoo: DataFrame,
    keys: DataFrame,
    n_shards: int,
    url_col: str = "url_canon",
) -> DataFrame:
    """Remove keys (one fingerprint occurrence each) — the recrawl /
    seen-expiry path bloom cannot support. O(delta) per shard."""

    def _delete(key, ck_pdf: pd.DataFrame, key_pdf: pd.DataFrame) -> pd.DataFrame:
        if ck_pdf.empty:
            return pd.DataFrame(
                columns=["shard", "buckets", "n_buckets", "n_keys"]
            ).astype({"shard": "int32", "n_buckets": "int64", "n_keys": "int64"})
        n_buckets = int(ck_pdf["n_buckets"].iloc[0])
        table = np.frombuffer(ck_pdf["buckets"].iloc[0], dtype=np.uint16).reshape(
            n_buckets, BUCKET_SLOTS
        ).copy()
        removed = 0
        if len(key_pdf):
            fp, b1, b2 = _fp_and_buckets(key_pdf[url_col], n_buckets)
            for i in range(len(fp)):
                for b in (int(b1[i]), int(b2[i])):
                    slots = np.where(table[b] == fp[i])[0]
                    if len(slots):
                        table[b][slots[0]] = 0
                        removed += 1
                        break
        return pd.DataFrame(
            {
                "shard": [int(key[0])],
                "buckets": [table.tobytes()],
                "n_buckets": [n_buckets],
                "n_keys": [max(0, int(ck_pdf["n_keys"].iloc[0]) - removed)],
            }
        )

    keys_sharded = keys.select(
        url_col, shard_col(F.col(url_col), n_shards).alias("shard")
    )
    return (
        cuckoo.groupBy("shard")
        .cogroup(keys_sharded.groupBy("shard"))
        .applyInPandas(_delete, CUCKOO_SCHEMA)
    )


def dedup_against_seen_cuckoo(
    candidates: DataFrame,
    seen: DataFrame,
    cuckoo: DataFrame | None,
    n_shards: int = 32,
    url_col: str = "url_canon",
    owner: list | None = None,
) -> DataFrame:
    """Probe-then-verify, mirroring bloom.dedup_against_seen: cuckoo
    positives verified by the exact anti-join (the reference's
    set.difference ground truth); negatives definitely-new *unless a
    deletion collided* — in which case the row simply refetches, which
    the natural-key upsert absorbs."""
    seen_keys = seen.select(url_col)
    if cuckoo is None:
        return candidates.join(seen_keys, url_col, "left_anti")
    # stage boundary, pinned like bloom.dedup_against_seen's: one lazy
    # checkpoint feeds both the fresh and the suspects branch
    probed = cuckoo_probe(candidates, cuckoo, n_shards, url_col).localCheckpoint(
        eager=False
    )
    if owner is not None:
        owner.append(probed)
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    return fresh.unionByName(suspects.join(seen_keys, url_col, "left_anti"))
