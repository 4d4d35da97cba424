"""Explicit partitioning & skew handling (north_rule requirement).

Crumble's skew is coverage depth, guarded by a decayed running average and
a MAX_DEPTH bail (snp_score.c:1671-1687, 92, 1493-1500).  Ours is token
count: a few documents carry orders of magnitude more tokens than the
median (FIXTURES.md skew fixture).  Giant rows stay single rows: encode is
per-block within a row, so its cost is linear in the row and bounded per
Arrow batch.  Two layers of defense:

1. token-bounded kernel slices inside encode.encode_record_batch (shared
   by every encode path): no kernel slice holds more than
   MAX_TOKENS_PER_SLICE tokens, a lone longer row forming its own slice;
2. per-source salting (this module), which a caller applies before
   encode.encode_df when one hot source's rows cluster in a few input
   splits: its rows spread over salt buckets in proportion to its share
   of the tokens.

AQE skew-join/partition coalescing stays on as the runtime backstop.  The
encode job itself adds no shuffle: task granularity comes from input
splits (session.py caps files.maxPartitionBytes), and shuffling raw token
arrays to rebalance them costs more than it saves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_BASE = 8  # every source spreads over at least this many buckets
SALT_CAP = 1024  # and at most this many (bounds the tiny-partition tail)


def derive_salt_plan(
    df: DataFrame, n_parts: int, base: int = SALT_BASE, cap: int = SALT_CAP
) -> dict[str, int]:
    """Per-source salt-bucket counts from one aggregate pre-pass: a
    source's share of total TOKENS — the actual encode work — decides how
    many salt buckets its rows spread over.  A uniform source stays at
    `base`; one hot unsplittable source gets buckets proportional to the
    tasks its work should fill (2x headroom), so it cannot pin stragglers.
    One groupBy over (source) with partial aggregation; the result is a
    handful of rows (sources are few by construction).

    A genuine NULL source contributes its tokens to the total but gets no
    plan entry — create_map literals cannot key on null; null-source rows
    take the default salt width via the coalesce in
    salted_repartition_by_source."""
    rows = df.groupBy("source").agg(F.sum(F.col("n_tok").cast("long")).alias("tok")).collect()
    total = sum(r["tok"] or 0 for r in rows) or 1
    return {
        r["source"]: int(min(cap, max(base, -(-((r["tok"] or 0) * 2 * n_parts) // total))))
        for r in rows
        if r["source"] is not None
    }


def _spark_hash_int(k: int) -> int:
    """Spark's Murmur3Hash (seed 42) of one IntegerType value: what F.hash
    returns and what hash partitioning places a row by."""
    m = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & m

    k1 = rotl((k & m) * 0xCC9E2D51 & m, 15) * 0x1B873593 & m
    h = (rotl(42 ^ k1, 13) * 5 + 0xE6546B64) & m
    h ^= 4
    h ^= h >> 16
    h = h * 0x85EBCA6B & m
    h ^= h >> 13
    h = h * 0xC2B2AE35 & m
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def _partition_keys(n_parts: int) -> list[int]:
    """keys[p]: the smallest int that hash partitioning into n_parts places
    in partition p — repartitioning on keys[p] puts a row exactly there."""
    keys: dict[int, int] = {}
    k = 0
    while len(keys) < n_parts:
        keys.setdefault(_spark_hash_int(k) % n_parts, k)
        k += 1
    return [keys[p] for p in range(n_parts)]


def salted_repartition_by_source(
    df: DataFrame, n_parts: int, plan: dict[str, int], default: int = SALT_BASE
) -> DataFrame:
    """Repartition on (source, per-source salt): each source's rows spread
    over exactly its planned bucket count.  Bucket b of a source lands on
    partition (offset(source) + b) mod n_parts, so a source's buckets fill
    consecutive partitions round-robin; hashing (source, salt) instead
    would collide a few buckets into one partition and hand it several
    times the mean.  The plan lookup is a JVM-side map literal — no UDF,
    deterministic, reproducible plans."""
    mapping = F.create_map(*[F.lit(x) for kv in plan.items() for x in kv])
    buckets = F.coalesce(mapping[F.col("source")], F.lit(default))
    salt = F.pmod(F.xxhash64("doc_id"), buckets)
    pid = F.pmod(F.pmod(F.xxhash64("source"), F.lit(n_parts)) + salt, F.lit(n_parts))
    keys = F.array(*[F.lit(k) for k in _partition_keys(n_parts)]).cast("array<int>")
    return df.repartition(n_parts, F.element_at(keys, (pid + 1).cast("int")))
