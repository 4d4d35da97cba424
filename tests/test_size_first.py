"""The size-first chooser: encode_flat sends a block to the slow path only
when an exact bound leaves DICT, TILE or FSST a chance, and the slow path
sizes every candidate but FSST before it encodes the winner once.  The
bytes must not move: GATE_DIGEST was computed before the bound existed."""

import hashlib
import struct

import numpy as np
import pytest
from conftest import gate_rows
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from crumble_spark import cost, synth
from crumble_spark.codecs import tile
from crumble_spark.encode import encode_flat

# sha256 over encode_flat's output for conftest.gate_rows() at blocks 256,
# 1024 and 4096, taken from the chooser that sent every block below the
# old size gates to the slow path
GATE_DIGEST = "a3cba9110c19febd605128ef09b4f00ae34a41f5148aa48bb759e3fc3fa37b22"


def _digest(rows, block_sizes):
    flat = np.concatenate(rows)
    offsets = np.concatenate(([0], np.cumsum([len(r) for r in rows]))).astype(np.int64)
    h = hashlib.sha256()
    for block_size in block_sizes:
        blocks_per_row, bytes_out, row_hash = encode_flat(flat, offsets, block_size)
        for blocks, bo, rh in zip(blocks_per_row, bytes_out.tolist(), row_hash.tolist()):
            h.update(struct.pack("<qq", bo, rh))
            for b in blocks:
                h.update(struct.pack("<iBi", b["block_id"], b["codec_id"], b["n"]))
                h.update(struct.pack("<i", len(b["payload"])) + b["payload"])
    return h.hexdigest()


def test_kernel_bytes_pinned_on_gate_edge_rows():
    assert _digest(gate_rows(), (256, 1024, 4096)) == GATE_DIGEST


def _block_floors(a, block_size):
    """(distinct_floor, true distinct count) of every block of row `a`."""
    out = []
    for s in range(0, len(a), block_size):
        b = a[s : s + block_size].astype(np.int64)
        zz = np.abs(np.diff(b)) * 2 if len(b) > 1 else np.zeros(1, np.int64)
        floor = cost.distinct_floor(
            np.array([b.min()]), np.array([b.max()]), np.array([zz.max()])
        )
        out.append((int(floor[0]), len(np.unique(b))))
    return out


int32s = st.integers(min_value=-(2**31), max_value=2**31 - 1)


@settings(max_examples=200, deadline=None)
@given(
    st.one_of(
        arrays(np.int32, st.integers(1, 300), elements=int32s),
        arrays(np.int32, st.integers(1, 300),
               elements=st.sampled_from([-(2**31), -1, 0, 1, 2**31 - 1])),
        st.tuples(st.sampled_from(synth.REGIMES), st.integers(1, 5000),
                  st.integers(0, 2**32 - 1)).map(
            lambda t: synth.gen_tokens(np.random.default_rng(t[2]), t[0], t[1])),
    ),
    st.sampled_from([64, 256, 1024, 4096]),
)
def test_distinct_floor_never_exceeds_the_distinct_count(a, block_size):
    for floor, card in _block_floors(a, block_size):
        assert 1 <= floor <= card


def test_distinct_floor_is_exact_on_a_lattice_walk():
    walk = np.cumsum(np.random.default_rng(3).choice([-5, 5], 4096)).astype(np.int32)
    ((floor, card),) = _block_floors(walk, 4096)
    assert floor == card


def _count_slow_calls(monkeypatch):
    calls = []
    real = cost.choose_with_stats

    def spy(*a, **kw):
        calls.append(len(a[0]))
        return real(*a, **kw)

    monkeypatch.setattr(cost, "choose_with_stats", spy)
    return calls


@pytest.mark.parametrize("block_size", [1024, 4096])
def test_monotone_blocks_skip_the_slow_path(monkeypatch, block_size):
    # full blocks: a short tail block of a walk can hold <= 256 values
    rng = np.random.default_rng(11)
    rows = [synth.gen_tokens(rng, "monotone", 4096 * int(rng.integers(1, 6))) for _ in range(8)]
    calls = _count_slow_calls(monkeypatch)
    flat = np.concatenate(rows)
    offsets = np.concatenate(([0], np.cumsum([len(r) for r in rows]))).astype(np.int64)
    encode_flat(flat, offsets, block_size)
    assert calls == []


def test_gate_edge_tiles_win_and_the_257_value_ramp_is_a_dictionary():
    # a tiling that ends in a ramp of 255 / 256 distinct values: TILE
    # wins; at 257 the periodic trials are out of reach and DICT wins
    for r in gate_rows()[8:11]:
        (blocks,), _, _ = encode_flat(r, np.array([0, len(r)], np.int64), 4096)
        assert blocks[0]["codec_id"] == (7 if r.max() <= 255_000 else 3), r.max()


def _loop_majority(a, p):
    """tile.majority_pattern as the per-row loop it replaced."""
    n = len(a)
    k = min(tile.VOTE_ROWS, n // p)
    if k <= 1:
        return a[:p].astype(np.int64)
    rows = a[: k * p].reshape(k, p)
    votes = np.zeros((k, p), dtype=np.int8)
    for i in range(k):
        votes[i] = (rows == rows[i]).sum(axis=0, dtype=np.int8)
    return rows[np.argmax(votes, axis=0), np.arange(p)].astype(np.int64)


def test_broadcast_vote_equals_the_loop():
    rng = np.random.default_rng(5)
    for _ in range(400):
        p = int(rng.integers(1, tile.MAX_PERIOD + 1))
        n = int(rng.integers(1, 12 * p + 3))
        # 2-3 symbols: ties between phases' candidates are common
        a = rng.integers(0, int(rng.integers(2, 4)), n).astype(np.int32)
        np.testing.assert_array_equal(tile.majority_pattern(a, p), _loop_majority(a, p))

