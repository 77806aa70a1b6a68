"""Partitioned bloom URL-seen filter — vectorized Arrow UDFs.

The reference's URL-seen set is an exact Python set hydrated from
Postgres (dags/utils.py:264-274) and probed with ``set.difference``
(seek_crawler.py:196). At 10^10-URL scale the exact anti-join is the
correctness backstop but a wasteful first line — the bloom filter
prunes the obviously-new URLs cheaply:

* **Build**: seen URLs are sharded by ``pmod(xxhash64(url_canon), n)``;
  ``applyInPandas`` per shard builds a numpy bit array (vectorized
  Kirsch-Mitzenmacher double hashing, k derived hash functions) and
  emits one ``(shard, bitmap, n_bits, n_hashes)`` row. Shards persist
  as a snapshot table — at 10^10 URLs × 12 bits ≈ 15 GB total, far too
  big to broadcast, but each shard is a few MB.
* **Probe**: candidates are sharded the same way and **cogrouped** with
  the shard table (``groupby(shard).cogroup.applyInPandas``) — each
  task sees one shard's bitmap + that shard's candidates; no broadcast,
  no driver collect, scales with shard count.

Bloom positives are verified by the exact ``left_anti`` join against
``seen`` (probe-then-verify preserves the reference's exact semantics);
bloom negatives are definitely-new (no false negatives — property-
tested in tests/test_bloom.py).

PySpark exposes no bloom primitive (``DataFrame.stat.bloomFilter`` is
Scala-only and ``BloomFilterAggregate`` is internal), hence this
implementation — which the north rule mandates as a custom vectorized
operator anyway.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOOM_SCHEMA = "shard int, bitmap binary, n_bits long, n_hashes int"


def _hash64_pair(values: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Two independent 64-bit hashes per value — vectorized
    (pd.util.hash_pandas_object = siphash-style keyed 64-bit, two
    fixed keys). Bloom hashes are engine-internal: build and probe use
    this same function, and the exact anti-join verifies every
    positive, so no cross-engine hash parity is needed — unlike the
    md5-based operators in textops. A per-row hashlib loop here cost
    ~1 µs/URL and showed up at million-URL rounds."""
    s = values.fillna("").astype(str)
    h1 = pd.util.hash_pandas_object(
        s, index=False, hash_key="crawlsparkbloom1"
    ).to_numpy(dtype=np.uint64)
    h2 = pd.util.hash_pandas_object(
        s, index=False, hash_key="crawlsparkbloom2"
    ).to_numpy(dtype=np.uint64)
    # double hashing degenerates if h2 is even for many keys; force odd
    h2 |= np.uint64(1)
    return h1, h2


def _positions(h1, h2, k: int, m: int) -> np.ndarray:
    """(len, k) bit positions via double hashing."""
    ks = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(m)


def shard_col(url_canon, n_shards: int):
    return F.pmod(F.xxhash64(url_canon), F.lit(n_shards)).cast("int")


def build_bloom(
    seen: DataFrame,
    n_shards: int = 32,
    bits_per_key: int = 24,
    n_hashes: int = 6,
    min_bits: int = 8 * 1024,
) -> DataFrame:
    """seen(url_canon) → one bloom row per shard.

    Sized at 24 bits/key — 2× headroom over the 12-bits/key overload
    threshold the scheduler rebuilds at, so incremental ``update_bloom``
    appends absorb a doubling of the seen set between rebuilds
    (fp ≈0.3% at threshold, far lower when fresh)."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        urls = pdf["url_canon"]
        m = max(min_bits, bits_per_key * len(urls))
        bits = np.zeros((m + 7) // 8, dtype=np.uint8)
        if len(urls):
            h1, h2 = _hash64_pair(urls)
            pos = _positions(h1, h2, n_hashes, m).ravel()
            np.bitwise_or.at(bits, (pos // 8).astype(np.int64), (1 << (pos % 8)).astype(np.uint8))
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0]) if len(pdf) else 0],
                "bitmap": [bits.tobytes()],
                "n_bits": [m],
                "n_hashes": [n_hashes],
                "n_keys": [len(urls)],
            }
        )

    sharded = seen.select(
        "url_canon", shard_col(F.col("url_canon"), n_shards).alias("shard")
    )
    return sharded.groupBy("shard").applyInPandas(
        _build, BLOOM_SCHEMA + ", n_keys long"
    )


def update_bloom(
    bloom: DataFrame,
    delta: DataFrame,
    n_shards: int = 32,
    bits_per_key: int = 12,
    n_hashes: int = 6,
    url_col: str = "url_canon",
) -> DataFrame:
    """Incremental maintenance: OR the delta's bit positions into the
    existing shard bitmaps (cogroup per shard — O(delta) work, never
    O(seen); SURVEY §7.5). A shard with no delta passes through
    unchanged; a delta shard with no bitmap yet gets a fresh one.

    The bitmap size m is fixed at shard creation, so the fp rate
    degrades as keys accumulate; ``n_keys`` tracks the load so callers
    rebuild a shard (build_bloom on the full seen set) once
    ``n_keys * bits_per_key > n_bits`` — a pure perf knob: correctness
    is untouched either way because the exact anti-join backstops
    every positive (dedup_against_seen)."""

    def _merge(key, bloom_pdf: pd.DataFrame, delta_pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        if bloom_pdf.empty:
            m = max(8 * 1024, bits_per_key * max(len(delta_pdf), 1024))
            bits = np.zeros((m + 7) // 8, dtype=np.uint8)
            k, n_keys = n_hashes, 0
        else:
            bits = np.frombuffer(
                bloom_pdf["bitmap"].iloc[0], dtype=np.uint8
            ).copy()
            m = int(bloom_pdf["n_bits"].iloc[0])
            k = int(bloom_pdf["n_hashes"].iloc[0])
            n_keys = int(bloom_pdf["n_keys"].iloc[0]) if "n_keys" in bloom_pdf else 0
        if len(delta_pdf):
            h1, h2 = _hash64_pair(delta_pdf[url_col])
            pos = _positions(h1, h2, k, m).ravel()
            np.bitwise_or.at(
                bits, (pos // 8).astype(np.int64), (1 << (pos % 8)).astype(np.uint8)
            )
        return pd.DataFrame(
            {
                "shard": [shard],
                "bitmap": [bits.tobytes()],
                "n_bits": [m],
                "n_hashes": [k],
                "n_keys": [n_keys + len(delta_pdf)],
            }
        )

    delta_sharded = delta.select(
        url_col, shard_col(F.col(url_col), n_shards).alias("shard")
    )
    if "n_keys" not in bloom.columns:
        bloom = bloom.withColumn("n_keys", F.lit(0).cast("long"))
    return (
        bloom.groupBy("shard")
        .cogroup(delta_sharded.groupBy("shard"))
        .applyInPandas(_merge, BLOOM_SCHEMA + ", n_keys long")
    )


def bloom_probe(
    candidates: DataFrame,
    bloom: DataFrame,
    n_shards: int,
    url_col: str = "url_canon",
) -> DataFrame:
    """Adds boolean ``maybe_seen``. Cogroups candidates with their
    bloom shard — no broadcast; False ⇒ definitely not in seen."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    out_schema = StructType(
        list(candidates.schema.fields) + [StructField("maybe_seen", BooleanType())]
    )
    cols = [f.name for f in candidates.schema.fields]

    def _probe(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(columns=cols + ["maybe_seen"])
        if bloom_pdf.empty:
            cand = cand_pdf.drop(columns=["_shard"])
            cand["maybe_seen"] = False
            return cand
        bits = np.frombuffer(bloom_pdf["bitmap"].iloc[0], dtype=np.uint8)
        m = int(bloom_pdf["n_bits"].iloc[0])
        k = int(bloom_pdf["n_hashes"].iloc[0])
        h1, h2 = _hash64_pair(cand_pdf[url_col])
        pos = _positions(h1, h2, k, m)
        hit = ((bits[(pos // 8).astype(np.int64)] >> (pos % 8).astype(np.uint8)) & 1).all(axis=1)
        cand = cand_pdf.drop(columns=["_shard"])
        cand["maybe_seen"] = hit.astype(bool)
        return cand

    cand_sharded = candidates.withColumn("_shard", shard_col(F.col(url_col), n_shards))
    return (
        cand_sharded.groupBy("_shard")
        .cogroup(bloom.groupBy("shard"))
        .applyInPandas(_probe, out_schema)
    )


def dedup_against_seen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: DataFrame | None,
    n_shards: int = 32,
    url_col: str = "url_canon",
    owner: list | None = None,
) -> DataFrame:
    """F-D two-stage dedup: bloom probe (cheap prune) then exact
    left_anti verification of the positives. Without a bloom table it
    degrades to the exact join alone (the semantic ground truth).

    ``owner``: optional list the internal stage checkpoint is appended
    to, so the caller can release it (``textops.release_frames``) once
    the round's actions have materialized."""
    seen_keys = seen.select(url_col)
    if bloom is None:
        return candidates.join(seen_keys, url_col, "left_anti")
    # stage boundary: probed feeds BOTH the fresh and the suspects
    # branch — without a pin the whole upstream (scan + canonicalize
    # UDF + cogroup probe) recomputes once per branch. A lazy
    # localCheckpoint rather than a persist: downstream plans see a
    # LogicalRDD scan instead of carrying this subtree (planning cost
    # grows with every nested cached plan). Candidate rows are narrow
    # key columns (no page bytes), the frontier working set.
    probed = bloom_probe(candidates, bloom, n_shards, url_col).localCheckpoint(
        eager=False
    )
    if owner is not None:
        owner.append(probed)
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    verified_new = suspects.join(seen_keys, url_col, "left_anti")
    return fresh.unionByName(verified_new)
