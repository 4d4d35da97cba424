"""Kernel tests without Spark: the shared Arrow-batch cores
(encode_record_batch, decode_record_batch), their token-bounded slicing,
and hashing — the pieces mapInArrow and the direct source wrap."""

import numpy as np
import pyarrow as pa
import pytest

from conftest import kernel_rows, record_kernel_slices
from crumble_spark import codecs, hashing
from crumble_spark.codecs import dictionary
from crumble_spark.decode import decode_blocks, decode_record_batch
from crumble_spark.encode import encode_flat, encode_record_batch, encode_tokens


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


@pytest.mark.parametrize(
    "tokens, why",
    [
        (np.array([2**40 + 5, 7], np.int64), "exceed int32 range"),
        (np.array([-(2**31) - 1, 7], np.int64), "exceed int32 range"),
        (np.array([1.0, 2.5]), "expected int32"),
    ],
)
@pytest.mark.parametrize("entry", ["encode_tokens", "cost.choose"])
def test_numpy_entries_reject_tokens_outside_int32(tokens, why, entry):
    # the one-array entries share the batch path's contract: no silent
    # truncating cast (2**40 + 5 would store and then "verify" as 5)
    from crumble_spark import cost

    fn = encode_tokens if entry == "encode_tokens" else cost.choose
    with pytest.raises(ValueError, match=f"contract violation.*{why}"):
        fn(tokens)


def test_numpy_entries_accept_wider_ints_in_range():
    from crumble_spark import cost

    a = np.array([3, -7, 2**31 - 1, -(2**31)] * 50, np.int64)
    assert encode_tokens(a, 64) == encode_tokens(a.astype(np.int32), 64)
    assert cost.choose(a) == cost.choose(a.astype(np.int32))


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


def _brute_force_choice(a):
    """The cheapest standalone encoding of block `a` by (bytes, codec id),
    from trial encodes of every candidate: RAW, RLE, FOR_BP, DELTA_BP, the
    full dictionary and every power-of-two top-k + escape dictionary (in
    dictionary.plan's order, so equal-size plans resolve as it does).
    Two rules of the kernel's are kept: a constant block is CONSTANT (it
    is routed before any sizing, so a one-token block is CONSTANT although
    RAW ties it at 4 bytes), and DICT competes only while its 2-entry
    lower bound is strictly below the cheapest other codec (at an exact
    tie on that bound the cheap codec keeps the block)."""
    if a.min() == a.max():
        return codecs.CONSTANT, codecs.encode(codecs.CONSTANT, a)
    cheap = [(cid, codecs.encode(cid, a))
             for cid in (codecs.RAW, codecs.RLE, codecs.FOR_BP, codecs.DELTA_BP)]
    cands = sorted(cheap, key=lambda c: (len(c[1]), c[0]))[:1]
    if dictionary.full_size(2, len(a)) < len(cands[0][1]):
        card = len(np.unique(a))
        if card <= dictionary.MAX_TABLE:
            cands.append((codecs.DICT, dictionary.encode(a, card, False)))
        k = 1
        while k < min(card, dictionary.MAX_TABLE):
            cands.append((codecs.DICT, dictionary.encode(a, k, True)))
            k <<= 1
    return min(cands, key=lambda c: (len(c[1]), c[0]))


@pytest.mark.parametrize("block_size", [64, 256, 1024, 4096])
def test_kernel_choice_matches_brute_force_reference(block_size):
    # every block encode_flat emits is the exhaustive argmin over the
    # standalone encoders — the check on the vectorised sizing and the
    # batch dictionary planner — unless a periodic trial (TILE, FSST)
    # beat that argmin strictly
    rows = kernel_rows()
    flat = np.concatenate(rows)
    offsets = np.concatenate(([0], np.cumsum([len(r) for r in rows]))).astype(np.int64)
    blocks_per_row, _, _ = encode_flat(flat, offsets, block_size)
    trial_wins = 0
    for row, a in enumerate(rows):
        for b in blocks_per_row[row]:
            s = b["block_id"] * block_size
            chunk = a[s : s + block_size]
            cid, payload = _brute_force_choice(chunk)
            where = (row, b["block_id"], b["codec_id"], cid)
            if b["codec_id"] in (codecs.TILE, codecs.FSST):
                trial_wins += 1
                assert len(b["payload"]) < len(payload), where
                np.testing.assert_array_equal(
                    codecs.decode(b["codec_id"], b["payload"], b["n"]), chunk
                )
            else:
                assert (b["codec_id"], b["payload"]) == (cid, payload), where
    assert trial_wins  # the inputs exercise the periodic trials


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
