"""Kernel ladder: single-process, no-Spark codec rates on seeded
``synth.gen_tokens`` blocks at block 1024 and block 4096.

* ``codecs.<codec>.{enc,dec}_mtok_s.b<size>``: one codec forced on the
  regime it is built for (RAW and CONSTANT are a copy and a fill, left out).
* ``regime.<regime>.{choose,decode}_mtok_s.b<size>``: the per-block
  ``cost.choose`` path (what giant-row chunks and slow blocks pay) and
  ``codecs.decode`` of whatever it chose, for every regime but
  ``constant`` (a fill, as above).

Rates are M tokens/s on one core, each the median of three timed
passes over the same blocks.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from crumble_spark import codecs, cost, synth

BLOCK_SIZES = (1024, 4096)
TOKENS_PER_POINT = 1 << 17
CODEC_REGIME = {
    "rle": ("runs", codecs.RLE),
    "dict": ("low_card", codecs.DICT),
    "for_bp": ("narrow_range", codecs.FOR_BP),
    "delta_bp": ("monotone", codecs.DELTA_BP),
    "fsst": ("escape_mix", codecs.FSST),
    "tile": ("periodic", codecs.TILE),
}
REGIMES = [r for r in synth.REGIMES if r != "constant"]


def names() -> list[str]:
    out = []
    for b in BLOCK_SIZES:
        out += [f"codecs.{c}.{d}_mtok_s.b{b}" for c in CODEC_REGIME for d in ("enc", "dec")]
        out += [f"regime.{r}.{d}_mtok_s.b{b}" for r in REGIMES for d in ("choose", "decode")]
    return out


def _blocks(seed: int, regime: str, size: int) -> list[np.ndarray]:
    rng = np.random.default_rng([seed, size, synth.REGIMES.index(regime)])
    return [synth.gen_tokens(rng, regime, size) for _ in range(TOKENS_PER_POINT // size)]


def _rate(fn, items, n_tok: int) -> float:
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        times.append(time.perf_counter() - t0)
    return n_tok / statistics.median(times) / 1e6


def run(seed: int) -> dict[str, float]:
    out: dict[str, float] = {}
    for size in BLOCK_SIZES:
        for name, (regime, cid) in CODEC_REGIME.items():
            blocks = _blocks(seed, regime, size)
            n_tok = sum(len(b) for b in blocks)
            enc = [codecs.encode(cid, b) for b in blocks]
            out[f"codecs.{name}.enc_mtok_s.b{size}"] = _rate(
                lambda b: codecs.encode(cid, b), blocks, n_tok
            )
            out[f"codecs.{name}.dec_mtok_s.b{size}"] = _rate(
                lambda p: codecs.decode(cid, p[0], p[1]),
                [(p, len(b)) for p, b in zip(enc, blocks)], n_tok,
            )
        for regime in REGIMES:
            blocks = _blocks(seed, regime, size)
            n_tok = sum(len(b) for b in blocks)
            chosen = [(*cost.choose(b), len(b)) for b in blocks]
            out[f"regime.{regime}.choose_mtok_s.b{size}"] = _rate(cost.choose, blocks, n_tok)
            out[f"regime.{regime}.decode_mtok_s.b{size}"] = _rate(
                lambda c: codecs.decode(*c), chosen, n_tok
            )
    return out
