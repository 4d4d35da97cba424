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
