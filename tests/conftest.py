import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small + fast for unit tests


@pytest.fixture(scope="session")
def spark():
    from crumble_spark.session import get_spark

    s = get_spark(app="crumble-spark-tests", shuffle_partitions=4)
    yield s
    s.stop()


def viewfs_store(spark, name, local_dir):
    """A viewfs:// path that mounts `local_dir`: a store Spark writes and
    reads through Hadoop's filesystem, not on the driver's local one.
    `name` is the mount table's, one per store."""
    spark.sparkContext._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{name}.link./store", f"file://{local_dir}"
    )
    return f"viewfs://{name}/store"


def write_docs_fixture(tmp_path, rows):
    """Minimal documents.parquet with the real table's columns, from
    (doc_id, text, source) rows — THE schema contract for synthetic
    documents fixtures; extend here (not inline in a test file) when the
    documents table gains a column the pipeline selects."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    pdf["lang"] = "en"
    pdf["n_chars"] = pdf["text"].str.len().fillna(0).astype("int64")
    pq.write_table(pa.Table.from_pandas(pdf), str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def record_kernel_slices(monkeypatch, bound):
    """Cap encode.MAX_TOKENS_PER_SLICE at `bound` and record (rows, tokens)
    of every encode_flat call made through the shared batch core."""
    from crumble_spark import encode

    monkeypatch.setattr(encode, "MAX_TOKENS_PER_SLICE", bound)
    calls = []
    real = encode.encode_flat

    def spy(flat, offsets, *a, **kw):
        calls.append((len(offsets) - 1, int(offsets[-1] - offsets[0])))
        return real(flat, offsets, *a, **kw)

    monkeypatch.setattr(encode, "encode_flat", spy)
    return calls


def kernel_rows():
    """Token rows that exercise every codec decision of the encode kernel:
    seeded synth rows of every regime (lengths spanning many blocks at
    every preset block size), a row of two randomly interleaved 4-token
    grams (an FSST win), a one-token row, and three adversarial rows
    for the dictionary planner's uniquing classes (unit runs over a wide
    range, a narrow range in few runs, the full int32 span)."""
    import numpy as np

    from crumble_spark import synth

    rng = np.random.default_rng(7)
    rows = [
        synth.gen_tokens(rng, regime, int(rng.integers(1, 12_000)))
        for _ in range(4)
        for regime in synth.REGIMES
    ]
    grams = [rng.integers(0, synth.VOCAB, 4), rng.integers(0, synth.VOCAB, 4)]
    rows.append(np.concatenate([grams[int(rng.integers(0, 2))] for _ in range(1500)]))
    rows.append(np.array([42], np.int32))
    rows.append(np.arange(1000, dtype=np.int32) * 7919)
    rows.append(np.repeat(np.arange(5, dtype=np.int32), 100))
    rows.append(rng.integers(-(2**31), 2**31 - 1, 600).astype(np.int32))
    return [np.asarray(r, np.int32) for r in rows]


def gate_rows():
    """Rows on the edges of encode_flat's distinct-value bound
    L = ceil((vmax - vmin) / D) + 1, D the block's largest step:
    random walks (on a lattice of spacing D the bound is exact),
    sawtooths (large steps, few values), a tiling that ends in a ramp of
    L = 256 / 257 distinct values (a periodic trial can win at 256), and
    alternating-then-ramp blocks whose dictionary floor 4 + 4L (+ n/8
    code bits) lands one below, on, or one above the cheapest closed-form
    size."""
    import numpy as np

    rng = np.random.default_rng(1801)
    rows = [
        np.cumsum(rng.choice([-5, 5], 9000)),
        np.cumsum(rng.choice([-5, 0, 5], 9000)),
        np.cumsum(rng.integers(-3, 4, 9000)),
        np.cumsum(rng.integers(-40, 41, 6000)),
        np.tile(np.arange(8) * 1000, 1200),
        np.tile(np.arange(300) * 3, 30),
        np.tile([-(2**31), 2**31 - 1], 700),
        np.cumsum(rng.choice([-(2**22), 2**22], 5000)),
    ]
    for k in (255, 256, 257):
        rows.append(np.concatenate([np.tile([0, 1000], (4096 - k) // 2 + 1)[: 4096 - k],
                                    1000 * np.arange(k)]))
    for n, step, m in ((1024, 4, 127), (1024, 4, 128), (1024, 64, 255), (1024, 128, 255),
                       (4096, 32, 895), (4096, 64, 895), (4096, 64, 896), (4096, 64, 1023)):
        rows.append(np.concatenate([np.tile([0, step], (n - m) // 2 + 1)[: n - m],
                                    step * np.arange(1, m + 1)]))
    return [np.asarray(r, np.int32) for r in rows]
