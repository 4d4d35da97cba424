"""pyarrow-direct encode job: byte-equivalent to the DataFrame path,
idempotent resume on (file, row-group) input splits, verified decode."""

import pyspark.sql.functions as F
import pytest

from crumble_spark import synth
from crumble_spark.encode import encode_df
from crumble_spark.sources import parquet_direct as direct


@pytest.fixture(scope="module")
def tok_dir(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("tok") / "tokens")
    synth.synth_table(spark, 150, seed=11, mean_len=400, parts=5).write.parquet(p)
    return p


def test_direct_matches_dataframe_path(spark, tok_dir, tmp_path):
    out = str(tmp_path / "direct")
    lin = direct.encode_job_direct(spark, tok_dir, out, block_size=256, n_splits=16)
    assert lin.filter("status='done'").count() == len(direct.list_input_splits(tok_dir))

    got = spark.read.parquet(f"{out}/encoded")
    want = encode_df(
        spark.read.parquet(tok_dir), block_size=256, n_splits=16
    )
    key = lambda df: {
        r["doc_id"]: (r["row_hash"], r["bytes_out"], r["split_id"], len(r["blocks"]))
        for r in df.collect()
    }
    assert key(got) == key(want)


def test_direct_decode_verify(spark, tok_dir, tmp_path):
    out = str(tmp_path / "dv")
    direct.encode_job_direct(spark, tok_dir, out, block_size=256, n_splits=16)
    totals = direct.decode_verify_direct(spark, f"{out}/encoded")
    src = spark.read.parquet(tok_dir).agg(
        F.count("*").alias("r"), F.sum(F.col("n_tok").cast("long")).alias("t")
    ).collect()[0]
    assert totals["rows"] == src["r"]
    assert totals["tokens"] == src["t"]


def test_direct_survives_stale_tmp_from_crashed_attempt(spark, tok_dir, tmp_path):
    # a task that died mid-write leaves enc-*.parquet.tmp; the retry must
    # overwrite it and publish atomically — output identical to a clean run
    import os

    out = str(tmp_path / "crashy")
    enc_dir = os.path.join(out, "encoded")
    os.makedirs(enc_dir)
    f, rg = direct.list_input_splits(tok_dir)[0]
    stale = os.path.join(
        enc_dir, f"enc-{os.path.basename(f)}-rg{rg}.parquet.tmp"
    )
    with open(stale, "wb") as fh:
        fh.write(b"garbage from a crashed attempt")
    direct.encode_job_direct(spark, tok_dir, out, block_size=256, n_splits=16)
    got = spark.read.parquet(enc_dir)
    want = encode_df(spark.read.parquet(tok_dir), block_size=256, n_splits=16)
    assert got.count() == want.count()
    a = {r["doc_id"]: r["row_hash"] for r in got.collect()}
    b = {r["doc_id"]: r["row_hash"] for r in want.collect()}
    assert a == b


def test_direct_rejects_out_of_range_int64_tokens(tmp_path):
    # int64 token column with values outside int32: the contract check must
    # fail the split loudly, never silently wrap (ADVICE r1)
    import pyarrow as pa
    import pyarrow.parquet as pq

    bad = pa.table(
        {
            "doc_id": pa.array(["a", "b"], pa.string()),
            "tokens": pa.array([[1, 2], [2**40, 3]], pa.list_(pa.int64())),
            "n_tok": pa.array([2, 2], pa.int32()),
            "source": pa.array(["web", "web"], pa.string()),
        }
    )
    f = str(tmp_path / "bad.parquet")
    pq.write_table(bad, f)
    with pytest.raises(ValueError, match="contract violation"):
        direct._encode_split(f, 0, str(tmp_path), 256, 16)


def test_direct_accepts_in_range_int64_tokens(tmp_path):
    # widened storage type with in-range values is fine (safe downcast)
    import pyarrow as pa
    import pyarrow.parquet as pq

    ok = pa.table(
        {
            "doc_id": pa.array(["a"], pa.string()),
            "tokens": pa.array([[1, 2, 3]], pa.list_(pa.int64())),
            "n_tok": pa.array([3], pa.int32()),
            "source": pa.array(["web"], pa.string()),
        }
    )
    f = str(tmp_path / "ok.parquet")
    pq.write_table(ok, f)
    row = direct._encode_split(f, 0, str(tmp_path), 256, 16)
    assert row[-1] == "done" and row[1] == 1


def test_many_files_listing_is_distributed_no_driver_footer_reads(
    spark, tmp_path, monkeypatch
):
    # At 100 TB the input is 10^5-10^6 files; opening every footer on the
    # driver serializes hours of metadata I/O before task 1 (VERDICT r3).
    # Above the crossover the job paths must fan the footer reads out as
    # a Spark job: zero driver-side pq.ParquetFile opens, identical split
    # list, identical encode output.  (Crossover lowered to 16 here so
    # 20 files exercise the distributed path without a 1000-file fixture.)
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setattr(direct, "DISTRIBUTED_LISTING_MIN_FILES", 16)

    many = tmp_path / "many"
    many.mkdir()
    n_files, docs_per_file = 20, 3
    for i in range(n_files):
        t = pa.table(
            {
                "doc_id": pa.array(
                    [f"f{i}d{j}" for j in range(docs_per_file)], pa.string()
                ),
                "tokens": pa.array(
                    [[i, j, j + 1, 7] for j in range(docs_per_file)],
                    pa.list_(pa.int32()),
                ),
                "n_tok": pa.array([4] * docs_per_file, pa.int32()),
                "source": pa.array(["web"] * docs_per_file, pa.string()),
            }
        )
        pq.write_table(t, str(many / f"part-{i:03d}.parquet"))

    serial = direct.list_input_splits(str(many))
    assert len(serial) == n_files

    opens = []
    real_pf = pq.ParquetFile

    def counting_pf(*a, **kw):
        opens.append(a[0] if a else kw)
        return real_pf(*a, **kw)

    monkeypatch.setattr(direct.pq, "ParquetFile", counting_pf)
    assert direct.list_input_splits_distributed(spark, str(many)) == serial
    assert opens == [], f"driver-side footer reads: {opens[:3]}"

    out = str(tmp_path / "many_out")
    direct.encode_job_direct(spark, str(many), out, block_size=256, n_splits=8)
    totals = direct.decode_verify_direct(spark, f"{out}/encoded")
    assert opens == [], f"driver-side footer reads in job path: {opens[:3]}"
    assert totals["rows"] == n_files * docs_per_file
    assert totals["tokens"] == n_files * docs_per_file * 4


def test_direct_resume_skips_done_splits(spark, tok_dir, tmp_path):
    out = str(tmp_path / "resume")
    all_splits = direct.list_input_splits(tok_dir)
    # first run: only 2 input splits exist in a copied subdir? simpler —
    # run full, then re-run with resume: nothing should re-encode
    direct.encode_job_direct(spark, tok_dir, out, block_size=256, n_splits=16)
    lin1 = spark.read.parquet(f"{out}/lineage_direct")
    n1 = lin1.count()
    assert n1 == len(all_splits)
    direct.encode_job_direct(spark, tok_dir, out, block_size=256, n_splits=16)
    lin2 = spark.read.parquet(f"{out}/lineage_direct")
    assert lin2.count() == n1  # resume appended nothing

def test_listing_order_identical_for_nested_dirs(spark, tmp_path, monkeypatch):
    # ADVICE r4: os.walk visits per-directory (root's files before
    # subdirs'), which is NOT globally lexicographic — e.g. root/z.parquet
    # walks before root/a/x.parquet.  Both listing paths must return the
    # bit-identical (path, rg)-sorted list on nested layouts or
    # _task_partitions groups splits differently across the crossover.
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "nested"
    (root / "a").mkdir(parents=True)
    t = pa.table(
        {
            "doc_id": pa.array(["d"], pa.string()),
            "tokens": pa.array([[1, 2, 3]], pa.list_(pa.int32())),
            "n_tok": pa.array([3], pa.int32()),
            "source": pa.array(["web"], pa.string()),
        }
    )
    # root-level file sorts AFTER the subdir file lexicographically but
    # BEFORE it in os.walk order — the exact divergence case
    pq.write_table(t, str(root / "z.parquet"))
    pq.write_table(t, str(root / "a" / "x.parquet"))

    serial = direct.list_input_splits(str(root))
    assert serial == sorted(serial)
    assert [p.rsplit("/", 2)[-1] for p, _ in serial] == ["x.parquet", "z.parquet"]

    monkeypatch.setattr(direct, "DISTRIBUTED_LISTING_MIN_FILES", 1)
    assert direct.list_input_splits_distributed(spark, str(root)) == serial


def test_direct_split_bounds_kernel_slices(tmp_path, monkeypatch):
    # one row group whose rows together exceed the slice bound: the direct
    # path must feed encode_flat token-bounded slices (a lone giant row on
    # its own), and emit exactly what an unbounded encode emits
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from conftest import record_kernel_slices

    rng = np.random.default_rng(5)
    lens = [900, 1200, 5000, 700, 800, 1100, 50, 0, 1300]
    toks = [
        synth.gen_tokens(rng, synth.REGIMES[i % len(synth.REGIMES)], n).astype(np.int32)
        for i, n in enumerate(lens)
    ]
    f = str(tmp_path / "giant.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": [f"g{i}" for i in range(len(lens))],
                "tokens": pa.array(toks, pa.list_(pa.int32())),
                "n_tok": pa.array(lens, pa.int32()),
                "source": ["web"] * len(lens),
            }
        ),
        f,
    )
    for d in ("unbounded", "bounded"):
        (tmp_path / d).mkdir()
    want = direct._encode_split(f, 0, str(tmp_path / "unbounded"), 256, 16)

    bound = 2000
    assert sum(lens) > bound
    calls = record_kernel_slices(monkeypatch, bound)
    got = direct._encode_split(f, 0, str(tmp_path / "bounded"), 256, 16)

    assert len(calls) > 1 and sum(r for r, _ in calls) == len(lens)
    for rows, n_tok in calls:
        assert n_tok <= bound or rows == 1, calls
    assert (1, 5000) in calls  # the giant row sits alone in its slice
    assert got[:7] == want[:7]  # summary: all but out_file and status

    def rows_of(summary):
        cols = ["doc_id", "row_hash", "bytes_out", "blocks"]
        return pq.read_table(summary[7], columns=cols).to_pylist()

    assert rows_of(got) == rows_of(want)


def _tamper(enc_dir, what):
    """Rewrite the first encoded file with one row's row_hash, or one
    FOR_BP payload byte, changed; returns (file, doc_id) of that row."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from crumble_spark import codecs
    from crumble_spark.schema import PA_ENCODED

    f = sorted(p for p in os.listdir(enc_dir) if p.endswith(".parquet"))[0]
    path = os.path.join(enc_dir, f)
    rows = pq.read_table(path).to_pylist()
    for r in rows:
        if what == "row_hash":
            r["row_hash"] += 1
            break
        b = next(
            (b for b in r["blocks"] if b["codec_id"] == codecs.FOR_BP and len(b["payload"]) > 16),
            None,
        )
        if b is not None:
            p = bytearray(b["payload"])
            p[12] ^= 0xFF
            b["payload"] = bytes(p)
            break
    else:
        raise AssertionError("no row to tamper with")
    pq.write_table(pa.Table.from_pylist(rows, schema=PA_ENCODED), path)
    return f, r["doc_id"]


@pytest.mark.parametrize("what", ["row_hash", "payload"])
def test_in_job_verification_catches_tampering(spark, tok_dir, tmp_path, what):
    # the worker raises ValueError naming the row (and on the direct path
    # the file:rg split); Spark re-raises it on the driver with the
    # worker's traceback, so the type is asserted through the message
    import re

    from crumble_spark.decode import decode_df

    out = str(tmp_path / "tamper")
    direct.encode_job_direct(spark, tok_dir, out, block_size=256, n_splits=16)
    f, doc_id = _tamper(f"{out}/encoded", what)
    row = rf"row_hash mismatch at row \d+ \(doc_id='{re.escape(doc_id)}'\)"
    with pytest.raises(Exception, match=rf"ValueError: {re.escape(f)}:rg0: {row}"):
        direct.decode_verify_direct(spark, f"{out}/encoded")
    with pytest.raises(Exception, match=rf"ValueError: {row}"):
        decode_df(spark.read.parquet(f"{out}/encoded"), verify=True).count()


def test_direct_resume_fails_on_unreadable_lineage(spark, tok_dir, tmp_path):
    # only a missing lineage path means "nothing done yet"; an unreadable
    # one must fail the job, not silently re-encode every split
    import os

    out = tmp_path / "badlin"
    (out / "lineage_direct").mkdir(parents=True)
    (out / "lineage_direct" / "junk.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        direct.encode_job_direct(spark, tok_dir, str(out), block_size=256, n_splits=16)
    enc = out / "encoded"
    assert not enc.exists() or not [p for p in os.listdir(enc) if p.startswith("enc-")]
