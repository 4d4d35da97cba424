"""Per-codec kernel unit tests on handcrafted arrays — mirrors the
reference's STR-finder TEST_MAIN micro-harness style (str_finder.c:267-299).
"""

import numpy as np
import pytest

from crumble_spark import codecs, cost
from crumble_spark.codecs import dictionary, fsst

RNG = np.random.default_rng(42)

CASES = {
    "constant": np.full(500, 7, dtype=np.int32),
    "constant_negative": np.full(100, -123456, dtype=np.int32),
    "runs": np.repeat(RNG.integers(0, 5, 50), RNG.integers(1, 64, 50)).astype(np.int32),
    "low_card": RNG.choice(np.array([3, 9, 81, 100], np.int32), 1000),
    "narrow_range": (1_000_000 + RNG.integers(0, 64, 1000)).astype(np.int32),
    "monotone": np.cumsum(RNG.integers(0, 9, 1000)).astype(np.int32),
    "periodic": np.tile(np.array([5, 11, 5, 7, 99], np.int32), 200),
    "escape_mix": np.where(
        RNG.random(1000) < 0.01,
        RNG.integers(0, 2**30, 1000).astype(np.int32),  # rare distinct outliers
        RNG.choice(np.array([1, 2], np.int32), 1000),
    ),
    "high_entropy": RNG.integers(0, 50_257, 4096).astype(np.int32),
    "single": np.array([42], dtype=np.int32),
    "two": np.array([-1, 2**31 - 1], dtype=np.int32),
    "full_range": np.array([-(2**31), 2**31 - 1, 0, -1], dtype=np.int32),
}


@pytest.mark.parametrize("name", list(CASES))
@pytest.mark.parametrize("codec_id", sorted(codecs.CODEC_NAMES))
def test_every_codec_roundtrips_every_case(codec_id, name):
    a = CASES[name]
    if codec_id == codecs.CONSTANT and len(np.unique(a)) != 1:
        pytest.skip("constant codec only defined on constant blocks")
    buf = codecs.encode(codec_id, a)
    out = codecs.decode(codec_id, buf, len(a))
    np.testing.assert_array_equal(out, a)
    assert out.dtype == np.int32


@pytest.mark.parametrize("name", list(CASES))
def test_choose_roundtrips_and_never_beats_raw(name):
    a = CASES[name]
    codec_id, payload = cost.choose(a)
    out = codecs.decode(codec_id, payload, len(a))
    np.testing.assert_array_equal(out, a)
    assert len(payload) <= 4 * len(a) + 16  # raw + max header slack


def test_choose_picks_expected_codecs():
    assert cost.choose(CASES["constant"])[0] == codecs.CONSTANT
    # one token is a constant block: CONSTANT, although RAW ties it at 4 bytes
    assert cost.choose(CASES["single"])[0] == codecs.CONSTANT
    assert cost.choose(CASES["runs"])[0] == codecs.RLE
    assert cost.choose(CASES["narrow_range"])[0] == codecs.FOR_BP
    assert cost.choose(CASES["monotone"])[0] == codecs.DELTA_BP
    assert cost.choose(CASES["periodic"])[0] in (codecs.FSST, codecs.TILE)
    assert cost.choose(CASES["high_entropy"])[0] in (codecs.RAW, codecs.FOR_BP)


def test_dict_escape_plan_beats_full_dict_on_escape_mix():
    a = CASES["escape_mix"].astype(np.int64)
    _, counts = np.unique(a, return_counts=True)
    k, use_escape, sz = dictionary.plan(np.sort(counts)[::-1], len(a))
    assert use_escape and k == 2
    buf = dictionary.encode(a)
    assert len(buf) == sz
    np.testing.assert_array_equal(dictionary.decode(buf, len(a)), a.astype(np.int32))


def test_fsst_compresses_periodic_well():
    a = CASES["periodic"]
    buf = fsst.encode(a)
    assert len(buf) < len(a)  # <1 byte/token on a 5-periodic stream
    np.testing.assert_array_equal(fsst.decode(buf, len(a)), a)


def test_fsst_adversarial_alternating():
    a = np.array([1, 2] * 500, dtype=np.int32)
    buf = fsst.encode(a)
    np.testing.assert_array_equal(fsst.decode(buf, len(a)), a)
    assert len(buf) < 300


def test_decode_rejects_short_output(monkeypatch):
    # a hard check, not an assert: it must survive python -O
    monkeypatch.setitem(codecs._DECODERS, codecs.RLE, lambda buf, n: np.zeros(n - 1, np.int32))
    with pytest.raises(ValueError, match=r"codec 2 decoded 4 int32 values, expected 5"):
        codecs.decode(codecs.RLE, b"", 5)
