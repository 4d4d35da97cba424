"""Keep-ranges: rows inside preserve ranges come out all-RAW and still
round-trip; rows outside keep their adaptive codecs."""

from pyspark.sql import functions as F

from crumble_spark import codecs, synth
from crumble_spark.decode import decode_df
from crumble_spark.encode import encode_df
from crumble_spark.preserve import KEEP_SCHEMA, with_force_raw


def test_keep_ranges_force_raw(spark):
    df = synth.synth_table(spark, 120, seed=21, mean_len=300, parts=2).cache()
    keep = spark.createDataFrame(
        [("web", "web-0000000000", "web-0000000059")], schema=KEEP_SCHEMA
    )
    marked = with_force_raw(df, keep)
    kept_ids = {
        r["doc_id"] for r in marked.filter("force_raw").select("doc_id").collect()
    }
    assert kept_ids  # fixture must actually cover some rows
    assert all(d.startswith("web-") and d <= "web-0000000059" for d in kept_ids)

    enc = encode_df(marked, block_size=128, n_splits=8).cache()
    codec_by_doc = {
        r["doc_id"]: set(r["cids"])
        for r in enc.select(
            "doc_id", F.col("blocks.codec_id").alias("cids")
        ).collect()
    }
    for doc_id, cids in codec_by_doc.items():
        if doc_id in kept_ids:
            assert cids <= {codecs.RAW}, f"{doc_id} not verbatim: {cids}"
    # adaptive rows still use non-RAW codecs somewhere
    assert any(
        cids - {codecs.RAW} for d, cids in codec_by_doc.items() if d not in kept_ids
    )

    dec = decode_df(enc, verify=True)
    got = {r["doc_id"]: r["tokens"] for r in dec.collect()}
    want = {r["doc_id"]: r["tokens"] for r in df.collect()}
    assert got == want


def test_force_raw_keeps_every_row_once(spark):
    # a doc_id repeated inside a keep range stays as many rows as it came
    # in, every copy flagged; the same doc_id under another source is not
    # in the range; and the plan joins nothing
    rows = [
        ("web-1", [1, 2], 2, "web"),
        ("web-1", [3, 4], 2, "web"),
        ("web-1", [5], 1, "code"),
        ("web-2", [6], 1, "web"),
        ("web-9", [7], 1, "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")
    keep = spark.createDataFrame(
        [("web", "web-0", "web-5"), ("chat", "a", "z")], schema=KEEP_SCHEMA
    )
    marked = with_force_raw(df, keep)
    got = sorted((r["doc_id"], r["source"], r["n_tok"], r["force_raw"]) for r in marked.collect())
    assert got == [
        ("web-1", "code", 1, False),
        ("web-1", "web", 2, True),
        ("web-1", "web", 2, True),
        ("web-2", "web", 1, True),
        ("web-9", "web", 1, False),
    ]
    plan = marked._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
