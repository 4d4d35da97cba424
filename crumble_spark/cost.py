"""Cost model: the slow-path half of the codec chooser, and its one-block
entry point.

Crumble scores every column with *two* consensus models and applies the
stricter verdict (snp_score.c:1523-1543); we score every candidate codec
and take the cheapest by (bytes, codec id), with RAW always in the
candidate set so the worst case is the input size — the `preserve`
fallback (snp_score.c:1624-1649).

The choice is size-first: every candidate is sized before any payload is
encoded, and only the winner is.  encode.encode_flat sizes RAW, RLE,
FOR_BP and DELTA_BP in closed form for every block of a batch and bounds
what DICT, TILE and FSST could do (distinct_floor): a block stays on the
fast path unless one of them can still win.  It plans the dictionary for
the rest, the slow blocks, at once; choose_with_stats acts on that
verdict for one slow block.  DICT's size comes from its plan and TILE's
from tile.size, both exact, so selection never mispredicts; only FSST is
trial-encoded.  The periodic trials are gated by a cheap lag scan,
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


def periodicity_scan(
    a: np.ndarray, starts: np.ndarray, n: np.ndarray, max_lag: int = MAX_LAG
) -> tuple[list[int], list[int]]:
    """For each block a[starts[i] : starts[i] + n[i]] (each longer than
    max_lag): (best lag, its count of positions equal to the position
    `lag` back), over lags 2..max_lag (lag 1 is run structure, already
    owned by RLE).  The best lag has the highest match fraction
    count / (n - lag), the smallest lag on a tie; 0 with count 0 when no
    position matches.

    One vectorized np.equal pass per lag over the blocks, gathered, and
    one reduceat to count per block — the numeric STR finder
    (str_finder.c:135-189 does the same via a rolling 2-bit word).
    """
    if len(n) == 0:
        return [], []
    offs = np.concatenate(([0], np.cumsum(n)))
    g = np.concatenate([a[s : s + k] for s, k in zip(starts.tolist(), n.tolist())])
    eq = np.empty(len(g), bool)
    pairs = np.stack((offs[:-1], offs[1:]), 1)
    lags = np.arange(2, max_lag + 1)
    counts = np.empty((len(lags), len(n)), np.int64)
    for i, lag in enumerate(lags.tolist()):
        np.equal(g[lag:], g[:-lag], out=eq[:-lag])
        # block j counts eq[offs[j] : offs[j+1] - lag]: no pair across blocks
        counts[i] = np.add.reduceat(eq, (pairs - (0, lag)).ravel(), dtype=np.int64)[::2]
    frac = counts / (n - lags[:, None])
    best = frac.argmax(axis=0)
    cnt = counts[best, np.arange(len(n))]
    return np.where(cnt > 0, lags[best], 0).tolist(), cnt.tolist()


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


def distinct_floor(vmin: np.ndarray, vmax: np.ndarray, zzmax: np.ndarray) -> np.ndarray:
    """Per block, a lower bound on its number of distinct values, from its
    min, max and largest zig-zagged step: L = ceil((vmax - vmin) / D) + 1
    with D = (zzmax + 1) // 2, the largest |step|.  The block walks from
    its min to its max one step at a time, so no gap between two adjacent
    distinct values is wider than D.  1 for a constant block (D = 0)."""
    step = (zzmax + 1) // 2
    return np.where(step > 0, (vmax - vmin + step - 1) // np.maximum(step, 1) + 1, 1)


def choose_with_stats(
    a: np.ndarray,
    best_id: int,
    best_size: int,
    dict_plan: tuple[int, bool],
    values: np.ndarray,
    counts: np.ndarray,
    scan: tuple[int, int] | None,
) -> tuple[int, bytes | None]:
    """The choice for one slow block from encode_flat's batch verdict: the
    best of the cheap codecs and DICT by (size, id) (best_id, best_size),
    the dictionary plan (k, use_escape), the block's distinct values
    (ascending) with their counts, and its periodicity_scan (lag, count),
    None when the block is out of the periodic trials' reach.  A periodic
    block is sized as TILE for every divisor of its lag, and trial-encoded
    as FSST; the winner is encoded once.  Returns (codec_id, payload);
    payload is None when a cheap codec keeps the block, which the caller
    encodes from its batch stats.  Accepts int32 or int64 input."""
    n = len(a)
    pattern = None
    # periodic analysis: only when repeats might exist that RLE/dict can't
    # see (cheap gates first — crumble's -Y work-skipping discipline).
    # The lag-match fraction must beat what i.i.d. low-card noise shows by
    # chance, else every 2-symbol block wastes a trial.
    if scan is not None:
        lag, cnt = scan
        frac = float(cnt) / (n - lag) if lag else 0.0
        if frac >= FSST_MIN_PERIODICITY and frac >= 1.5 * chance_match_rate(counts, n):
            # the scan's best lag is often a multiple of the true period —
            # a mutation inside the tile pattern replicates everywhere, so
            # size every divisor exactly and keep the cheapest; int32 is
            # fine here, the votes are pure equality/argmax
            for p in (d for d in range(1, lag + 1) if lag % d == 0):
                pat = tile.majority_pattern(a, p)
                sz = tile.size(n, p, tile.exceptions_for(a, pat))
                if sz < best_size:
                    best_id, best_size, pattern = codecs.TILE, sz, pat
            # gram tables only stand a chance when the tile didn't already
            # collapse the block below ~1 bit/token
            if best_size * 8 > n:
                trial = codecs.encode(codecs.FSST, a)
                if len(trial) < best_size:
                    return codecs.FSST, trial
    if best_id == codecs.TILE:
        payload = tile.encode(a, len(pattern), pattern)
    elif best_id == codecs.DICT:
        k, use_escape = dict_plan
        payload = dictionary.encode(a, k=k, use_escape=use_escape, values=values, counts=counts)
    else:
        return best_id, None
    assert len(payload) == best_size, (best_id, len(payload), best_size)
    return best_id, payload
