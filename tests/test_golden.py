"""Golden fixture (FIXTURES.md assertion 3): byte-exact encoded payloads
committed for the seed-42 table — pins the on-disk block format and the
cost model's choices. Any intentional format change must regenerate
tests/golden_seed42.json (see git history for the generator) and bump a
codec id instead of mutating an existing format.
"""

import hashlib
import json
import os
import struct

import numpy as np
from conftest import kernel_rows

from crumble_spark import synth
from crumble_spark.decode import decode_blocks
from crumble_spark.encode import encode_flat, encode_tokens

GOLDEN = os.path.join(os.path.dirname(__file__), "golden_seed42.json")


def _rows():
    rows = [synth.gen_row(42, i, mean_len=96) for i in range(24)]
    rng = np.random.default_rng(4242)
    g1 = rng.integers(0, 50257, 3)
    g2 = rng.integers(0, 50257, 4)
    fsst_row = np.concatenate(
        [g1 if rng.random() < 0.5 else g2 for _ in range(60)]
    ).astype(np.int32)
    rows.append(("hand-fsst", fsst_row.tolist(), len(fsst_row), "hand"))
    rows.append(
        ("hand-raw", rng.integers(-(2**31), 2**31 - 1, 96).astype(np.int32).tolist(), 96, "hand")
    )
    return rows


def test_golden_byte_exact():
    with open(GOLDEN) as f:
        golden = {g["doc_id"]: g for g in json.load(f)}
    rows = _rows()
    assert set(golden) == {r[0] for r in rows}
    for doc_id, toks, n_tok, source in rows:
        g = golden[doc_id]
        blocks, bytes_out, row_hash = encode_tokens(np.asarray(toks, np.int32), block_size=64)
        assert bytes_out == g["bytes_out"], doc_id
        assert row_hash == g["row_hash"], doc_id
        assert len(blocks) == len(g["blocks"]), doc_id
        for b, gb in zip(blocks, g["blocks"]):
            assert b["block_id"] == gb["block_id"]
            assert b["codec_id"] == gb["codec_id"], (doc_id, b["block_id"])
            assert b["n"] == gb["n"]
            assert b["payload"].hex() == gb["payload_hex"], (doc_id, b["block_id"])
        out, h = decode_blocks(blocks, verify=True)
        np.testing.assert_array_equal(out, np.asarray(toks, np.int32))


def test_golden_covers_most_codecs():
    with open(GOLDEN) as f:
        golden = json.load(f)
    used = {b["codec_id"] for g in golden for b in g["blocks"]}
    # raw, constant, rle, dict, for, delta, tile (fsst needs larger blocks
    # than the 64-token golden uses; its format is pinned by unit tests)
    assert {0, 1, 2, 3, 4, 5, 7} <= used


# sha256 over encode_flat's output for conftest.kernel_rows() at the
# non-golden preset block sizes: every block's (block_id, codec_id, n,
# payload) plus each row's bytes_out and row_hash.  Pins the kernel's
# codec choices and bytes at the sizes the presets and the benchmark run.
PRESET_DIGEST = "fb23a1de3c27a7972a8742f442cc0eb6f81cf4980951662c11f9f93943736fa0"


def test_kernel_bytes_pinned_at_preset_block_sizes():
    rows = kernel_rows()
    flat = np.concatenate(rows)
    offsets = np.concatenate(([0], np.cumsum([len(r) for r in rows]))).astype(np.int64)
    h = hashlib.sha256()
    for block_size in (256, 1024, 4096):
        blocks_per_row, bytes_out, row_hash = encode_flat(flat, offsets, block_size)
        for blocks, bo, rh in zip(blocks_per_row, bytes_out.tolist(), row_hash.tolist()):
            h.update(struct.pack("<qq", bo, rh))
            for b in blocks:
                h.update(struct.pack("<iBi", b["block_id"], b["codec_id"], b["n"]))
                h.update(struct.pack("<i", len(b["payload"])) + b["payload"])
    assert h.hexdigest() == PRESET_DIGEST
