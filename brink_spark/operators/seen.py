"""URL-seen set: partitioned Bloom prefilter + exact visited joins (E1/H1/H2).

The reference's seen set is one in-memory hash map guarded by a RWMutex
(store/store.go:9-42, used at brink.go:83-103). At 10^10-URL scale that
becomes (a) an exact, append-only ``visited`` table joined per wave, and
(b) a *partitioned Bloom filter* prefilter so the expensive anti-join only
sees URLs that might be visited:

- hashes: ``h1 = xxhash64(url_norm)``, ``h2 = xxhash64(url_norm, SALT)``
  computed JVM-side (native, vectorized); the k probe positions are
  Kirsch-Mitzenmacher combinations ``h1 + i*h2 (mod n_bits)`` evaluated in
  numpy inside ``applyInPandas`` — no per-row Python.
- sharding: ``shard = pmod(h1, n_shards)``. Probe and build are
  *shard-aligned cogroups*: each task sees one shard's URLs plus that
  shard's bitmap, so no bitmap is ever broadcast and total filter size can
  exceed any single executor's memory (the 10^10 design point: 12.5 GB of
  bitmap over 1024 shards ≈ 12 MB per task).
- safety: Bloom positives fall through to the exact join; Bloom negatives
  are *provably* unseen because every visited url_norm was inserted
  (property-tested). False positives cost a join row, never correctness.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_H2_SALT = "brink-h2"

BLOOM_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("bitmap", BinaryType()),
        StructField("n_bits", LongType()),
        StructField("n_hashes", IntegerType()),
    ]
)

_PROBE_SCHEMA = StructType(
    [
        StructField("url_norm", StringType()),
        StructField("maybe_seen", BooleanType()),
    ]
)


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, n_bits: int) -> np.ndarray:
    """(len, k) probe positions; uint64 arithmetic, Kirsch-Mitzenmacher."""
    h1 = h1.astype(np.uint64)
    h2 = h2.astype(np.uint64)
    ks = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(n_bits)).astype(
        np.int64
    )


def _test_bits(bitmap: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """All-k-bits-set test. bitmap: uint8 array; pos: (n, k) bit indices."""
    bits = (bitmap[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return bits.all(axis=1)


def _set_bits(bitmap: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bitmap, pos >> 3, (1 << (pos & 7).astype(np.uint8)))


def with_bloom_keys(df: DataFrame, url_col: str, n_shards: int) -> DataFrame:
    h1 = F.xxhash64(F.col(url_col))
    h2 = F.xxhash64(F.col(url_col), F.lit(_H2_SALT))
    return (
        df.withColumn("_h1", h1)
        .withColumn("_h2", h2)
        .withColumn("_shard", F.pmod(h1, F.lit(n_shards)).cast("int"))
    )


class BloomSeenSet:
    """Shard-partitioned Bloom filter over normalized URLs."""

    def __init__(self, n_shards: int, n_bits: int, n_hashes: int):
        self.n_shards = n_shards
        self.n_bits = n_bits
        self.n_hashes = n_hashes

    def empty(self, spark) -> DataFrame:
        return spark.createDataFrame([], schema=BLOOM_SCHEMA)

    # -- probe --------------------------------------------------------------
    def probe(self, urls: DataFrame, shards: DataFrame) -> DataFrame:
        """urls: any DataFrame with a distinct ``url_norm`` column →
        (url_norm, maybe_seen). Shard-aligned cogroup; no broadcast."""
        n_bits, n_hashes = self.n_bits, self.n_hashes

        def _probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if left.empty:
                return pd.DataFrame(columns=["url_norm", "maybe_seen"])
            if right.empty:
                return pd.DataFrame(
                    {"url_norm": left["url_norm"], "maybe_seen": False}
                )
            bitmap = np.frombuffer(right["bitmap"].iloc[0], dtype=np.uint8)
            pos = _positions(
                left["_h1"].to_numpy(), left["_h2"].to_numpy(), n_hashes, n_bits
            )
            return pd.DataFrame(
                {"url_norm": left["url_norm"], "maybe_seen": _test_bits(bitmap, pos)}
            )

        keyed = with_bloom_keys(urls.select("url_norm").distinct(), "url_norm", self.n_shards)
        return (
            keyed.groupBy("_shard")
            .cogroup(shards.groupBy("shard"))
            .applyInPandas(_probe, schema=_PROBE_SCHEMA)
        )

    # -- build / merge -------------------------------------------------------
    def updated(self, new_urls: DataFrame, shards: DataFrame) -> DataFrame:
        """Insert ``url_norm``s of new_urls into the shard bitmaps, returning
        the full new shard table (old shards carried through)."""
        n_bits, n_hashes = self.n_bits, self.n_hashes

        def _merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if right.empty and left.empty:
                return pd.DataFrame(
                    columns=["shard", "bitmap", "n_bits", "n_hashes"]
                )
            if right.empty:
                shard = int(left["_shard"].iloc[0])
                bitmap = np.zeros(n_bits // 8, dtype=np.uint8)
            else:
                shard = int(right["shard"].iloc[0])
                bitmap = np.frombuffer(
                    right["bitmap"].iloc[0], dtype=np.uint8
                ).copy()
            if not left.empty:
                pos = _positions(
                    left["_h1"].to_numpy(), left["_h2"].to_numpy(), n_hashes, n_bits
                )
                _set_bits(bitmap, pos)
            return pd.DataFrame(
                {
                    "shard": [shard],
                    "bitmap": [bitmap.tobytes()],
                    "n_bits": [n_bits],
                    "n_hashes": [n_hashes],
                }
            )

        keyed = with_bloom_keys(
            new_urls.select("url_norm").distinct(), "url_norm", self.n_shards
        )
        return (
            keyed.groupBy("_shard")
            .cogroup(shards.groupBy("shard"))
            .applyInPandas(_merge, schema=BLOOM_SCHEMA)
        )


def mark_seen(
    edges: DataFrame,
    visited: DataFrame | None,
    bloom: BloomSeenSet | None = None,
    bloom_shards: DataFrame | None = None,
) -> DataFrame:
    """E1/H1/H2 as ONE DataFrame: every edge row tagged with the visited
    ``status`` (null = fresh, non-null = cached with that stored status).

    One left join against ``visited`` yields both halves instead of an
    anti + inner pair: ``visited`` (the table that grows without bound at
    web scale) is scanned and shuffled once per wave, not twice.

    The single-table form exists so the wave loop can materialize the
    normalized/seen-tagged edges ONCE (localCheckpoint) before fanning out
    into the fresh/cached/units/politeness branches — the wave plan
    references this split from five subtrees, and without the cut each
    branch re-runs the frontier scan, the normalize UDF and the visited
    join (Spark physical plans are trees; only identical exchanges dedupe).

    With a Bloom filter, definite negatives skip the exact join entirely —
    at web scale the overwhelming majority of frontier URLs each wave —
    and only maybe-seen URLs reach it. Correctness is unconditional: a
    false positive just pays the join; false negatives cannot occur.
    """
    if visited is None:
        return edges.withColumn("status", F.lit(None).cast("int"))

    def _hit(maybe_seen: DataFrame) -> DataFrame:
        return maybe_seen.join(
            visited.select("url_norm", "status"), "url_norm", "left"
        )

    if bloom is None or bloom_shards is None:
        return _hit(edges)

    verdicts = bloom.probe(edges, bloom_shards)
    edges_flagged = edges.join(verdicts, "url_norm", "left")
    negatives = (
        edges_flagged.filter(~F.coalesce("maybe_seen", F.lit(False)))
        .drop("maybe_seen")
        .withColumn("status", F.lit(None).cast("int"))
    )
    positives = edges_flagged.filter(F.coalesce("maybe_seen", F.lit(False))).drop(
        "maybe_seen"
    )
    return negatives.unionByName(_hit(positives))
