"""Skew handling: giant documents stay single rows through the one encode
path and round-trip bit-identically; per-source salting spreads a hot
source."""

import numpy as np
from pyspark.sql import functions as F

from crumble_spark import synth
from crumble_spark.decode import decode_df
from crumble_spark.job import EncodeConfig, run_encode_job


def _tokens_row(doc_id, n, seed, source="web"):
    rng = np.random.default_rng(seed)
    toks = synth.gen_tokens(rng, "runs", n).tolist()
    return (doc_id, toks, len(toks), source)


def test_giant_rows_roundtrip(spark, tmp_path):
    rows = [
        _tokens_row("web-giant-1", 50_000, 1),
        _tokens_row("web-giant-2", 30_000, 2),
        _tokens_row("web-small-1", 500, 3),
        ("web-empty", [], 0, "web"),
    ]
    df = spark.createDataFrame(
        rows, schema="doc_id string, tokens array<int>, n_tok int, source string"
    )
    out = str(tmp_path / "giant")
    cfg = EncodeConfig(block_size=1024, n_splits=8)
    summary = run_encode_job(spark, df, out, cfg=cfg, resume=False)
    assert summary["rows"] == len(rows)
    enc = spark.read.parquet(f"{out}/encoded")
    dec = decode_df(enc, verify=True)  # verify raises if any hash is wrong
    got = {r["doc_id"]: r["tokens"] for r in dec.collect()}
    want = {r[0]: r[1] for r in rows}
    assert got == want


def test_split_id_crc32_parity_jvm_python(spark):
    # the split routing invariant: F.crc32 (JVM, used by with_split_id)
    # and zlib.crc32 (python, used by parquet_direct and lookup.split_of)
    # must agree byte-for-byte, including non-ASCII doc ids
    import zlib

    from crumble_spark.encode import with_split_id

    ids = ["a", "web-0000000001", "doc/with/slashes", "émoji-✓-id",
           "x" * 300, "0", "ID_UPPER", "ид-кириллица"]
    df = spark.createDataFrame([(d,) for d in ids], "doc_id string")
    jvm = {r["doc_id"]: r["split_id"] for r in with_split_id(df, 64).collect()}
    py = {d: zlib.crc32(d.encode("utf-8")) % 64 for d in ids}
    assert jvm == py


def test_salt_plan_gives_hot_source_more_buckets(spark):
    # one source carries ~95% of the tokens; its derived salt count must
    # dominate the uniform source's, and both stay within [base, cap]
    from crumble_spark.partitioning import (
        SALT_BASE,
        SALT_CAP,
        derive_salt_plan,
        salted_repartition_by_source,
    )

    rows = [(f"hot-{i:05d}", [1] * 50, 50, "hot") for i in range(380)] + [
        (f"cold-{i:05d}", [1] * 5, 5, "cold") for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, schema="doc_id string, tokens array<int>, n_tok int, source string"
    )
    plan = derive_salt_plan(df, n_parts=64)
    assert plan["hot"] > plan["cold"]
    assert plan["cold"] == SALT_BASE
    assert all(SALT_BASE <= v <= SALT_CAP for v in plan.values())

    # and the physical spread follows the plan: the hot source's rows land
    # on more distinct partitions than the cold source's
    p = salted_repartition_by_source(df, 64, plan).withColumn(
        "pid", F.spark_partition_id()
    )
    spread = {
        r["source"]: r["n"]
        for r in p.groupBy("source").agg(F.countDistinct("pid").alias("n")).collect()
    }
    assert spread["hot"] > spread["cold"]


def test_salted_repartition_spreads_hot_source(spark):
    # all rows share one source; salting must still spread them: the lone
    # source gets the full 2x-headroom width, and no partition hogs its rows
    from crumble_spark.partitioning import derive_salt_plan, salted_repartition_by_source

    rows = [(f"web-{i:05d}", [1, 2, 3], 3, "web") for i in range(400)]
    df = spark.createDataFrame(
        rows, schema="doc_id string, tokens array<int>, n_tok int, source string"
    )
    plan = derive_salt_plan(df, n_parts=8)
    assert plan == {"web": 16}
    parts = salted_repartition_by_source(df, 8, plan).rdd.glom().map(len).collect()
    assert len(parts) == 8
    assert max(parts) < 2 * (400 / 8)  # no partition hogs the hot source



def test_salt_buckets_fill_consecutive_partitions(spark):
    # the python-side hash matches F.hash, so every salt bucket lands on
    # its own partition: a source with 4 buckets over 16 partitions fills
    # exactly 4 of them, and 16 buckets over 8 partitions fill each twice
    from crumble_spark.partitioning import _spark_hash_int, salted_repartition_by_source

    ks = list(range(-50, 50)) + [2**31 - 1, -(2**31)]
    hdf = spark.createDataFrame([(k,) for k in ks], "k int")
    assert {r["k"]: r["h"] for r in hdf.select("k", F.hash("k").alias("h")).collect()} == {
        k: _spark_hash_int(k) for k in ks
    }

    rows = [(f"d-{i:05d}", [1], 1, "web") for i in range(400)]
    df = spark.createDataFrame(
        rows, schema="doc_id string, tokens array<int>, n_tok int, source string"
    )
    pids = salted_repartition_by_source(df, 16, {"web": 4}).select(
        F.spark_partition_id().alias("pid")
    )
    used = {r["pid"] for r in pids.collect()}
    assert any(used == {(s + i) % 16 for i in range(4)} for s in range(16))
    parts = salted_repartition_by_source(df, 8, {"web": 16}).rdd.glom().map(len).collect()
    assert min(parts) > 0

def test_derive_salt_plan_agrees_with_skew_stats_on_null_sources(spark):
    # ADVICE r4: derive_salt_plan emitted a None key for a genuine NULL
    # source, feeding F.lit(None) into the create_map salt lookup.  The
    # plan must be null-free (null rows take the coalesce default) while
    # the null group's tokens still count toward the total.
    from crumble_spark.partitioning import derive_salt_plan, salted_repartition_by_source

    rows = [(f"hot-{i:05d}", [1] * 50, 50, "hot") for i in range(300)] + [
        (f"null-{i:05d}", [1] * 500, 500, None) for i in range(8)
    ]
    df = spark.createDataFrame(
        rows, schema="doc_id string, tokens array<int>, n_tok int, source string"
    )
    plan = derive_salt_plan(df, n_parts=64)
    assert None not in plan
    # the null group holds 4k of 19k tokens; if dropped from the total,
    # hot's share would be 100% and its bucket count would hit 2x n_parts
    assert plan["hot"] < 2 * 64
    # the map literal must build and route null-source rows via the default
    out = salted_repartition_by_source(df, 8, plan)
    assert out.count() == len(rows)
