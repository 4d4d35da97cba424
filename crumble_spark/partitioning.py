"""Explicit partitioning & skew handling (north_rule requirement).

Crumble's skew is coverage depth, guarded by a decayed running average and
a MAX_DEPTH bail (snp_score.c:1671-1687, 92, 1493-1500).  Ours is token
count: a few documents carry orders of magnitude more tokens than the
median (FIXTURES.md skew fixture).  Three layers of defense:

1. salted repartition — work is spread by hash(doc_id) salt, not by
   source, so one hot source cannot pin a straggler task;
2. giant-document block-parallel path — rows above a token threshold are
   exploded into per-block rows, encoded wherever the shuffle puts them,
   and reassembled by a groupBy(doc_id); row_hash is block-combinable
   (hashing.py) precisely so this path needs no full-row pass anywhere;
3. token-bounded kernel slices inside encode.encode_record_batch (shared
   by every encode path) as the last-resort memory guard, plus AQE
   skew-join/partition coalescing as the runtime backstop.

At 100 TB the same code holds: the threshold is per-task memory-derived,
the explode is a narrow op, and the one shuffle (reassembly groupBy) moves
only encoded bytes — i.e. post-compression, typically 5-20x smaller than
the input.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import DEFAULT_BLOCK_SIZE, cost, hashing
from .encode import BLOCK_OVERHEAD, encode_df, with_split_id
from .schema import BLOCK_SCHEMA, ENCODED_SCHEMA

GIANT_ROW_TOKENS = 262_144  # rows longer than this take the block-parallel path
GIANT_FLOOR_TOKENS = 32_768  # adaptive threshold never drops below this
GIANT_TAIL_QUANTILE = 0.999
GIANT_TAIL_FACTOR = 8


def derive_giant_threshold(
    df: DataFrame,
    floor: int = GIANT_FLOOR_TOKENS,
    cap: int = GIANT_ROW_TOKENS,
    quantile: float = GIANT_TAIL_QUANTILE,
    factor: int = GIANT_TAIL_FACTOR,
) -> int:
    """Data-derived giant-row threshold (crumble's decayed running depth
    average made a pre-pass, snp_score.c:1671-1687): clamp(p99.9(n_tok) *
    factor) between floor and cap.

    A tight length distribution keeps the high static cap (nothing gains
    from the block-parallel detour); a heavy-tailed source pulls the
    threshold down so its tail rows are split across tasks instead of
    pinning stragglers.  One percentile_approx aggregate — a single scan
    with partial aggregation, 1-row result, negligible against the encode.
    """
    row = df.agg(
        F.percentile_approx("n_tok", quantile).alias("p")
    ).collect()[0]
    p = int(row["p"] or 0)
    return int(min(cap, max(floor, p * factor)))

_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("split_id", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("block", BLOCK_SCHEMA, False),
        T.StructField("block_bytes", T.LongType(), False),
        T.StructField("block_hash", T.LongType(), False),
    ]
)


def salted_repartition(df: DataFrame, n_parts: int, salt_buckets: int = 64) -> DataFrame:
    """Hash-salted repartition on doc_id — uniform rows per task regardless
    of source skew. Deterministic (xxhash64), so plans are reproducible."""
    return df.repartition(
        n_parts, F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets * n_parts))
    )


SALT_BASE = 8  # every source spreads over at least this many buckets
SALT_CAP = 1024  # and at most this many (bounds the tiny-partition tail)


def derive_salt_plan(
    df: DataFrame, n_parts: int, base: int = SALT_BASE, cap: int = SALT_CAP
) -> dict[str, int]:
    """Per-source salt-bucket counts from one aggregate pre-pass (the
    second half of the percentile discipline behind derive_giant_threshold):
    a source's share of total TOKENS — the actual encode work — decides how
    many salt buckets its rows spread over.  A uniform source stays at
    `base`; one hot unsplittable source gets buckets proportional to the
    tasks its work should fill (2x headroom), so it cannot pin stragglers.
    One groupBy over (source) with partial aggregation; the result is a
    handful of rows (sources are few by construction).

    A genuine NULL source contributes its tokens to the total but gets no
    plan entry — create_map literals cannot key on null, and
    derive_skew_stats applies the same filter, keeping the documented
    `plan == derive_salt_plan(df)` invariant on corpora with null sources
    (ADVICE r4); null-source rows take the default salt width via the
    coalesce in salted_repartition_by_source."""
    rows = df.groupBy("source").agg(F.sum(F.col("n_tok").cast("long")).alias("tok")).collect()
    total = sum(r["tok"] or 0 for r in rows) or 1
    return {
        r["source"]: int(min(cap, max(base, -(-((r["tok"] or 0) * 2 * n_parts) // total))))
        for r in rows
        if r["source"] is not None
    }


def derive_skew_stats(
    df: DataFrame,
    n_parts: int,
    floor: int = GIANT_FLOOR_TOKENS,
    cap: int = GIANT_ROW_TOKENS,
    quantile: float = GIANT_TAIL_QUANTILE,
    factor: int = GIANT_TAIL_FACTOR,
    base: int = SALT_BASE,
    salt_cap: int = SALT_CAP,
) -> tuple[int, dict[str, int]]:
    """(giant_threshold, salt_plan) from ONE rollup scan: the grand-total
    row carries the global p-quantile (same percentile_approx the
    standalone derive_giant_threshold computes), the per-source rows the
    token shares — so enabling both adaptive features costs one pre-pass
    over the input, not two."""
    rows = (
        df.rollup("source")
        .agg(
            F.sum(F.col("n_tok").cast("long")).alias("tok"),
            F.percentile_approx("n_tok", quantile).alias("p"),
            # grouping() distinguishes the rollup grand-total row from a
            # genuine NULL-source group (ADVICE r3): selecting the total by
            # `source IS NULL` would pick the null group's percentile as
            # the global quantile and drop its tokens from the salt total
            F.grouping("source").alias("is_total"),
        )
        .collect()
    )
    total = sum((r["tok"] or 0) for r in rows if r["is_total"] == 0) or 1
    # a genuine NULL source contributes to the total but gets no plan
    # entry (map literals can't key on null); its rows take the default
    # salt width in salted_repartition_by_source via coalesce
    plan = {
        r["source"]: int(min(salt_cap, max(base, -(-((r["tok"] or 0) * 2 * n_parts) // total))))
        for r in rows
        if r["is_total"] == 0 and r["source"] is not None
    }
    p_global = next(int(r["p"] or 0) for r in rows if r["is_total"] == 1)
    return int(min(cap, max(floor, p_global * factor))), plan


def salted_repartition_by_source(
    df: DataFrame, n_parts: int, plan: dict[str, int], default: int = SALT_BASE
) -> DataFrame:
    """Repartition on (source, per-source salt): each source's rows spread
    over exactly its planned bucket count.  The plan lookup is a JVM-side
    map literal — no UDF, deterministic, reproducible plans."""
    mapping = F.create_map(*[F.lit(x) for kv in plan.items() for x in kv])
    buckets = F.coalesce(mapping[F.col("source")], F.lit(default))
    salt = F.pmod(F.xxhash64("doc_id"), buckets)
    return df.repartition(n_parts, F.col("source"), salt)


def _encode_chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Kernel for pre-exploded (one row == one block) chunk rows."""
    for pdf in batches:
        if not len(pdf):
            continue
        rows = []
        for doc_id, toks, n_tok, source, split_id, bi in zip(
            pdf["doc_id"], pdf["tokens"], pdf["n_tok"], pdf["source"],
            pdf["split_id"], pdf["block_id"],
        ):
            chunk = np.asarray(toks, dtype=np.int32)
            codec_id, payload = cost.choose(chunk)
            bi = int(bi)
            rows.append(
                (
                    doc_id,
                    source,
                    int(n_tok),
                    int(split_id),
                    bi,
                    {"block_id": bi, "codec_id": codec_id, "n": len(chunk), "payload": payload},
                    len(payload) + BLOCK_OVERHEAD,
                    hashing.block_hash(bi, chunk),
                )
            )
        yield pd.DataFrame(rows, columns=[f.name for f in _CHUNK_SCHEMA.fields])


def encode_giant_rows(df: DataFrame, block_size: int = DEFAULT_BLOCK_SIZE) -> DataFrame:
    """Block-parallel encode for giant documents.

    Explode each row into per-block chunk rows *before* the heavy work, so
    the chunks of one document land on many tasks; reassemble with one
    groupBy over already-encoded (small) payloads.
    """
    # one exploded row per block: slice(tokens, ...) keeps this JVM-side
    nb = F.ceil(F.col("n_tok") / F.lit(block_size)).cast("int")
    exploded = (
        df.withColumn("block_id", F.explode(F.sequence(F.lit(0), nb - 1)))
        .withColumn(
            "tokens", F.slice("tokens", F.col("block_id") * block_size + 1, block_size)
        )
    )
    # spread blocks uniformly; the subsequent mapInPandas sees ~equal work
    exploded = exploded.repartition(F.xxhash64("doc_id", "block_id"))
    chunks = exploded.mapInPandas(_encode_chunks, schema=_CHUNK_SCHEMA)
    return (
        chunks.groupBy("doc_id", "source", "n_tok", "split_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("block_id", "block"))).alias("bs"),
            F.sum("block_bytes").alias("bytes_out"),
            # row_hash is defined mod 2^63 (hashing.combine); the int64 sum
            # wraps mod 2^64, and (x mod 2^64) mod 2^63 == x mod 2^63, so
            # masking the wrapped sum reproduces the fused path / decode-
            # verify value even for docs with enough blocks to overflow
            # (session.py pins ANSI off so the sum wraps instead of throwing)
            F.sum("block_hash").bitwiseAND(F.lit((1 << 63) - 1)).alias("row_hash"),
        )
        .select(
            "doc_id",
            "source",
            "n_tok",
            "split_id",
            F.col("bs.block").alias("blocks"),
            (F.col("n_tok").cast("long") * 4).alias("bytes_in"),
            "bytes_out",
            "row_hash",
        )
    )


def encode_df_skewaware(
    df: DataFrame,
    block_size: int = DEFAULT_BLOCK_SIZE,
    n_splits: int = 256,
    giant_threshold: int | str = GIANT_ROW_TOKENS,
    repartition: bool = False,
    n_parts: int | None = None,
) -> DataFrame:
    """Route giant rows to the block-parallel path, everything else to the
    fused single-pass path; union the (identical) encoded schemas.

    Parallelism strategy: encode is CPU-bound (~40 MB/s/core), so task
    granularity comes from *input splits* (session.py caps
    files.maxPartitionBytes at 32 MB) — shuffling raw token arrays just to
    rebalance costs more than it saves.  `repartition=True` adds the
    salted shuffle for pathological layouts (one hot unsplittable file,
    severely clustered doc sizes); the giant-row path and AQE cover the
    rest.

    giant_threshold="auto" derives the threshold from the input's own
    length distribution (derive_giant_threshold); repartition=True salts
    per source with data-derived bucket counts (derive_salt_plan), so one
    hot source spreads over proportionally more tasks than a uniform one.
    """
    if repartition and n_parts is None:
        n_parts = df.sparkSession.sparkContext.defaultParallelism * 4
    salt_plan = None
    if giant_threshold == "auto" and repartition:
        # both adaptive features on → one combined rollup scan, not two
        giant_threshold, salt_plan = derive_skew_stats(df, n_parts)
    elif giant_threshold == "auto":
        giant_threshold = derive_giant_threshold(df)
    df = with_split_id(df, n_splits)
    small = df.filter(F.col("n_tok") <= giant_threshold)
    if repartition:
        if salt_plan is None:
            salt_plan = derive_salt_plan(df, n_parts)
        small = salted_repartition_by_source(small, n_parts, salt_plan)
    big = df.filter(F.col("n_tok") > giant_threshold)
    enc_small = encode_df(small, block_size=block_size, n_splits=n_splits)
    enc_big = encode_giant_rows(big, block_size=block_size)
    return enc_small.unionByName(enc_big.select(*[f.name for f in ENCODED_SCHEMA.fields]))
