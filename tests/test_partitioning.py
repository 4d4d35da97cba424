"""Skew handling: giant documents stay single rows through the one encode
path and round-trip bit-identically; the crc32 split routing agrees
between the JVM and Python."""

import numpy as np

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
