"""Kernel tests without Spark: the shared Arrow-batch cores
(encode_record_batch, decode_record_batch), their token-bounded slicing,
and hashing — the pieces mapInArrow and the direct source wrap."""

import numpy as np
import pyarrow as pa
import pytest

from conftest import record_kernel_slices
from crumble_spark import hashing
from crumble_spark.decode import decode_blocks, decode_record_batch
from crumble_spark.encode import encode_record_batch, encode_tokens


def _batch(rows):
    doc_id, tokens, source, split_id = zip(*rows)
    return pa.record_batch(
        [
            pa.array(doc_id, pa.string()),
            pa.array([list(t) for t in tokens], pa.list_(pa.int32())),
            pa.array(source, pa.string()),
            pa.array(split_id, pa.int32()),
        ],
        names=["doc_id", "tokens", "source", "split_id"],
    )


def _row_tokens(values, offsets):
    return [values[offsets[i] : offsets[i + 1]] for i in range(len(offsets) - 1)]


def test_encode_record_batch_roundtrip():
    rows = [
        ("a", np.arange(100, dtype=np.int32), "web", 0),
        ("b", np.zeros(0, dtype=np.int32), "web", 1),
        ("c", np.array([5] * 2000, dtype=np.int32), "code", 2),
    ]
    enc, stats = encode_record_batch(_batch(rows), block_size=256)
    values, offsets = decode_record_batch(enc, verify=True)
    for (_, toks, *_), got in zip(rows, _row_tokens(values, offsets)):
        np.testing.assert_array_equal(got, toks)
    assert enc.column("bytes_in").to_pylist() == [400, 0, 8000]
    assert enc.column("split_id").to_pylist() == [0, 1, 2]  # passed through
    bo = enc.column("bytes_out").to_numpy()
    assert all(bo <= np.array([400, 0, 8000]) + 32)
    # lineage counters come keyed by split_id, one row each here:
    # (n_rows, n_tokens, bytes_out, checksum, blocks per codec id...)
    blocks = enc.column("blocks").to_pylist()
    assert sorted(stats) == [0, 1, 2]
    for i, (_, toks, _, sid) in enumerate(rows):
        n_rows, n_tokens, bytes_out, checksum, *hist = stats[sid].tolist()
        assert (n_rows, n_tokens, bytes_out) == (1, len(toks), bo[i])
        assert checksum == enc.column("row_hash")[i].as_py() % (1 << 31)
        assert sum(hist) == len(blocks[i])
        for b in blocks[i]:
            assert hist[b["codec_id"]] > 0
    assert not any(stats[1][4:])


def test_encode_record_batch_caps_slice_tokens(monkeypatch):
    calls = record_kernel_slices(monkeypatch, 2500)
    rows = [(f"d{i}", np.zeros(1000, np.int32), "web", 0) for i in range(10)]
    encode_record_batch(_batch(rows))
    assert sum(r for r, _ in calls) == 10
    assert len(calls) > 1
    for r, t in calls:
        assert t <= 2500 or r == 1
    # a single giant row still forms its own slice rather than being dropped
    calls.clear()
    giant = [("g", np.zeros(10_000, np.int32), "web", 0)] + rows[:2]
    enc, _ = encode_record_batch(_batch(giant))
    assert sum(r for r, _ in calls) == 3 and enc.num_rows == 3
    assert calls[0] == (1, 10_000)  # the giant is alone


@pytest.mark.parametrize(
    "tokens, why",
    [
        (pa.array([[1.0, 2.5]], pa.list_(pa.float64())), "expected int32"),
        (pa.array([[1, 2**40]], pa.list_(pa.int64())), "exceed int32 range"),
        (pa.array([[1, None, 3]], pa.list_(pa.int32())), "null tokens"),
    ],
)
def test_encode_record_batch_rejects_contract_violations(tokens, why):
    batch = pa.record_batch(
        [pa.array(["a"]), tokens, pa.array(["web"])], names=["doc_id", "tokens", "source"]
    )
    with pytest.raises(ValueError, match=f"contract violation.*{why}"):
        encode_record_batch(batch)


def test_decode_record_batch_names_the_tampered_row():
    rows = [(f"d{i}", np.arange(300, dtype=np.int32) * i, "web", 0) for i in range(4)]
    enc, _ = encode_record_batch(_batch(rows), block_size=128)
    rh = enc.column("row_hash").to_pylist()
    rh[2] += 1
    bad = enc.set_column(
        enc.schema.get_field_index("row_hash"), "row_hash", pa.array(rh, pa.int64())
    )
    with pytest.raises(ValueError, match=r"row 2 \(doc_id='d2'\)"):
        decode_record_batch(bad, verify=True)
    values, _ = decode_record_batch(bad, verify=False)  # no check, no raise
    assert len(values) == 1200


def test_block_hash_combinable():
    a = np.arange(5000, dtype=np.int32)
    whole = hashing.row_hash(a, 1024)
    parts = [
        hashing.block_hash(bi, a[off : off + 1024])
        for bi, off in enumerate(range(0, len(a), 1024))
    ]
    assert hashing.combine(parts) == whole
    # order of combination is irrelevant (sum), block identity is not
    assert hashing.combine(reversed(parts)) == whole
    swapped = [hashing.block_hash(1, a[:1024]), hashing.block_hash(0, a[1024:2048])]
    assert hashing.combine(swapped + parts[2:]) != whole


def test_encode_tokens_block_structure():
    a = np.arange(2500, dtype=np.int32)
    blocks, bytes_out, rh = encode_tokens(a, block_size=1024)
    assert [b["block_id"] for b in blocks] == [0, 1, 2]
    assert [b["n"] for b in blocks] == [1024, 1024, 452]
    assert rh == hashing.row_hash(a, 1024)
    out, h = decode_blocks(blocks, verify=True)
    np.testing.assert_array_equal(out, a)
    assert h == rh


def test_batched_slow_path_matches_per_block_choose():
    # encode_flat's _batch_slow_plans must reproduce the per-block
    # cost.choose decision AND payload bytes exactly, for every regime
    # and for blocks that straddle the narrow/unit/general uniquing
    # classes — this is the direct equivalence pin for the r3 batching
    import numpy as np

    from crumble_spark import cost, synth
    from crumble_spark.encode import encode_flat

    rng = np.random.default_rng(7)
    arrs = []
    for i in range(120):
        regime = synth.REGIMES[i % len(synth.REGIMES)]
        arrs.append(synth.gen_tokens(rng, regime, int(rng.integers(8, 1500))).astype(np.int32))
    # adversarial extremes for the class split
    arrs.append(np.arange(1000, dtype=np.int32) * 7919)          # unit runs, wide range
    arrs.append(np.repeat(np.arange(5, dtype=np.int32), 100))     # narrow, few runs
    arrs.append(rng.integers(-(2**31), 2**31 - 1, 600).astype(np.int32))  # full int32 span
    flat = np.concatenate(arrs)
    offsets = np.concatenate(([0], np.cumsum([len(a) for a in arrs]))).astype(np.int64)

    from crumble_spark import codecs

    for block_size in (64, 512, 4096):
        blocks_per_row, _, _ = encode_flat(flat, offsets, block_size)
        for row, a in enumerate(arrs):
            for b in blocks_per_row[row]:
                s = b["block_id"] * block_size
                chunk = a[s : s + block_size]
                cid, payload = cost.choose(chunk)
                if (cid, payload) != (b["codec_id"], b["payload"]):
                    # the ONE documented divergence: exact size ties may
                    # pick different codec ids (encode_flat routes
                    # constant blocks before the argmin) — sizes must
                    # tie and both must invert bit-identically
                    assert len(payload) == len(b["payload"]), (
                        row, b["block_id"], block_size, cid, b["codec_id"])
                    np.testing.assert_array_equal(
                        codecs.decode(b["codec_id"], b["payload"], b["n"]), chunk
                    )
                    np.testing.assert_array_equal(
                        codecs.decode(cid, payload, len(chunk)), chunk
                    )


def test_split_counters_match_per_row_sums():
    # many rows per split, empty rows included: the vectorized group sums
    # equal a per-row loop
    from crumble_spark.lineage import N_COUNTERS

    rng = np.random.default_rng(9)
    rows = [
        (f"d{i}", rng.integers(0, 40, int(rng.integers(0, 700))).astype(np.int32), "web",
         int(rng.integers(0, 5)))
        for i in range(60)
    ]
    enc, stats = encode_record_batch(_batch(rows), block_size=128)
    want: dict = {}
    for r in enc.to_pylist():
        v = want.setdefault(r["split_id"], np.zeros(N_COUNTERS, np.int64))
        v[:4] += [1, r["n_tok"], r["bytes_out"], r["row_hash"] % (1 << 31)]
        for b in r["blocks"]:
            v[4 + b["codec_id"]] += 1
    assert sorted(stats) == sorted(want)
    for sid, v in want.items():
        np.testing.assert_array_equal(stats[sid], v)
