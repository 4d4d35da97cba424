"""Cost model: the slow-path half of the codec chooser, and its one-block
entry point.

Crumble scores every column with *two* consensus models and applies the
stricter verdict (snp_score.c:1523-1543); we score every candidate codec
and take the cheapest by (bytes, codec id), with RAW always in the
candidate set so the worst case is the input size — the `preserve`
fallback (snp_score.c:1624-1649).

encode.encode_flat sizes RAW, RLE, FOR_BP and DELTA_BP in closed form for
every block of a batch, and plans the dictionary for every slow block at
once; choose_with_stats acts on that verdict for one slow block.  Every
size but the periodic trials' is exact, so selection never mispredicts;
TILE and FSST need trial encodes and are gated by a cheap lag scan,
mirroring crumble's -Y work-skipping gate (snp_score.c:1732).
"""

from __future__ import annotations

import numpy as np

from . import codecs
from .codecs import dictionary, tile

# periodic-analysis gates (FSST gram trial + TILE period scan).
# card cap: gram/period structure implies a small alphabet; scanning
# high-cardinality blocks wastes 7 O(n) passes per block for nothing
FSST_MIN_N = 64
FSST_MAX_CARD = 256
FSST_MIN_PERIODICITY = 0.35
MAX_LAG = 8  # STR finder searches periods 1..8 (str_finder.h:13)


def periodicity_scan(a: np.ndarray, max_lag: int = MAX_LAG) -> tuple[int, float]:
    """(best_lag, fraction of positions equal to the position `lag` back),
    over lags 2..max_lag (lag 1 is run structure, already owned by RLE).

    Vectorized np.equal lag comparison — the numeric STR finder
    (str_finder.c:135-189 does the same via a rolling 2-bit word).
    """
    n = len(a)
    best_lag, best = 0, 0.0
    for lag in range(2, min(max_lag, n - 1) + 1):
        frac = float(np.count_nonzero(a[lag:] == a[:-lag])) / (n - lag)
        if frac > best:
            best_lag, best = lag, frac
    return best_lag, best


def chance_match_rate(counts: np.ndarray, n: int) -> float:
    """Probability two random positions hold equal values (sum p_i^2) —
    the lag-match fraction an i.i.d. block produces by chance alone.
    Low-cardinality noise looks 'periodic' without this correction."""
    p = counts / n
    return float(np.dot(p, p))


def choose(a: np.ndarray) -> tuple[int, bytes]:
    """Pick the cheapest codec for one block and encode it: encode_flat
    over a single block, so every caller gets the product kernel's choice.

    a: non-empty int32 array. Returns (codec_id, payload).
    """
    from .encode import encode_flat  # encode imports this module

    blocks, _, _ = encode_flat(a, np.array([0, len(a)], np.int64), len(a))
    (block,) = blocks[0]
    return block["codec_id"], block["payload"]


def choose_with_stats(
    a: np.ndarray,
    cheap_id: int,
    cheap_size: int,
    dict_plan: tuple[int, bool, int],
    values: np.ndarray,
    counts: np.ndarray,
) -> tuple[int, bytes]:
    """The choice for one slow block from encode_flat's batch verdict: the
    cheapest of RAW/RLE/FOR_BP/DELTA_BP (cheap_id, cheap_size), the
    dictionary plan (k, use_escape, size) and the block's distinct values
    (ascending) with their counts.  DICT competes by (size, id) only while
    its 2-entry lower bound beats the cheap size; then the periodic trials
    may replace the winner.  Accepts int32 or int64 input."""
    n = len(a)
    best_id, best_size = cheap_id, cheap_size
    k, use_escape, dict_size = dict_plan
    dict_wins = (dict_size, codecs.DICT) < (cheap_size, cheap_id)
    if dictionary.full_size(2, n) < cheap_size and dict_wins:
        best_id, best_size = codecs.DICT, dict_size
        payload = dictionary.encode(a, k=k, use_escape=use_escape, values=values, counts=counts)
    else:
        payload = codecs.encode(best_id, a)
    assert len(payload) == best_size, (best_id, len(payload), best_size)

    # periodic analysis: only when repeats might exist that RLE/dict can't
    # see (cheap gates first — crumble's -Y work-skipping discipline).
    # The lag-match fraction must beat what i.i.d. low-card noise shows by
    # chance, else every 2-symbol block wastes a trial encode.
    if n >= FSST_MIN_N and 1 < len(values) <= FSST_MAX_CARD and best_size * 8 > n:
        # int32 is fine throughout the gate: the lag scan and tile votes
        # are pure equality/argmax, and tile/fsst encode upcast internally
        lag, frac = periodicity_scan(a)
        if frac >= max(FSST_MIN_PERIODICITY, 1.5 * chance_match_rate(counts, n)):
            # the scan's best lag is often a multiple of the true period —
            # a mutation inside the tile pattern replicates everywhere, so
            # try every divisor and keep the exact cheapest
            best_p, best_tile_sz = 0, best_size
            for p in (d for d in range(1, lag + 1) if lag % d == 0):
                n_exc = tile.exceptions_for(a, tile.majority_pattern(a, p))
                sz = tile.size(n, p, n_exc)
                if sz < best_tile_sz:
                    best_p, best_tile_sz = p, sz
            if best_p:
                trial = tile.encode(a, best_p)
                if len(trial) < best_size:
                    best_id, payload, best_size = codecs.TILE, trial, len(trial)
            # gram tables only stand a chance when the tile didn't already
            # collapse the block below ~1 bit/token
            if best_size * 8 > n:
                trial = codecs.encode(codecs.FSST, a)
                if len(trial) < best_size:
                    return codecs.FSST, trial
    return best_id, payload
