"""The encode stage: chunk → stats → pick codec → emit blocks, one fused
pass per Arrow batch, the engine analogue of crumble's single fused
transcode loop (snp_score.c:1336-2029): all decisions are local to a
bounded block, the transform is verified (row_hash), and a verbatim RAW
fallback bounds the worst case.

encode_record_batch is the one batch core under the DataFrame path
(encode_df, via mapInArrow) and the pyarrow-direct path, so both bound
kernel memory alike and emit the same bytes.  Encoding adds no shuffle:
scan → (optional salted repartition, partitioning.py) → mapInArrow → sink.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import DEFAULT_BLOCK_SIZE, cost, hashing
from . import codecs as codecs_mod
from .schema import ENCODED_SCHEMA, PA_BLOCK, PA_ENCODED

# the fused loop hashes (and stores RAW payloads from) chunk.tobytes() in
# native byte order, while hashing.block_hash and the decode side pin
# '<i4'; the zero-copy fast path is only valid on little-endian hosts.
# A hard raise, not assert: python -O would strip an assert and corrupt
# the on-disk format silently instead of failing at import.
import sys as _sys

if _sys.byteorder != "little":
    raise RuntimeError(
        "crumble_spark's on-disk format and row hashes are little-endian; "
        "big-endian hosts would need explicit '<i4' views in encode_flat"
    )

BLOCK_OVERHEAD = 9  # block_id/codec_id/n stored as struct fields
# bounded-memory guard: one kernel slice never holds more than this many
# tokens, regardless of how many giant rows share an Arrow batch; a lone
# row above it forms its own slice (crumble's MAX_DEPTH bail analogue,
# snp_score.c:92,1493-1500)
MAX_TOKENS_PER_SLICE = 8_000_000


def _widths(v: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for non-negative int64 (log2 is exact for
    our <2^33 ranges)."""
    v = np.asarray(v, dtype=np.int64)
    w = np.zeros(len(v), dtype=np.int64)
    nz = v > 0
    w[nz] = np.floor(np.log2(v[nz])).astype(np.int64) + 1
    return w


def _batch_slow_plans(rvals, seg_len, rb, rb_end, blen, vmin, vmax, slow_sel):
    """Whole-batch uniquing + dictionary planning for every slow-path
    block at once.

    Blocks are split into the SAME three classes as
    stats._materialize_counts — narrow value range (bincount), unit runs
    (plain sort; all weights 1), general (argsort + segmented sum) — so
    every block's (values, counts) are computed by the same algorithm it
    would have used per-block, just batched: one global bincount with
    per-block key offsets, one direct sort / argsort of a combined
    (block_rank << 33 | value-vmin) key.  The dict plan (top-k powers of
    two + escape, dictionary.plan) is then evaluated once per k over
    vectors; descending-count prefix sums come from only the counts > 1
    (few by construction: low-card blocks have few distinct values,
    high-entropy blocks have few duplicates), with the run of trailing
    1-counts handled arithmetically.

    Returns (vals_by_class, cnts_by_class, and per-slow-block lists:
    class id, slice start/end into that class's arrays, plan k /
    use_escape / exact size).
    """
    from .codecs.dictionary import MAX_TABLE as _DICT_MAX

    n_slow = len(slow_sel)
    nruns = (rb_end - rb)[slow_sel]
    vr = (vmax - vmin)[slow_sel]
    nb_ = blen[slow_sel]
    narrow = vr < 4 * nruns
    unit = (~narrow) & (nruns == nb_)
    rest = ~narrow & ~unit
    _SHIFT = np.int64(33)  # value - vmin < 2^33 for any int32 block
    _BIG = np.int64(1) << 62

    vals_by_class: list = [None, None, None]
    cnts_by_class: list = [None, None, None]
    grp = np.empty(n_slow, np.int64)
    ds = np.empty(n_slow, np.int64)
    de = np.empty(n_slow, np.int64)
    pk = np.empty(n_slow, np.int64)
    pesc = np.zeros(n_slow, bool)
    psz = np.empty(n_slow, np.int64)

    def gather_idx(pos):
        idx = slow_sel[pos]
        rp = rb_end[idx] - rb[idx]
        lab = np.repeat(np.arange(len(idx)), rp)
        cum = np.concatenate(([0], np.cumsum(rp)[:-1]))
        sel = np.arange(int(rp.sum())) - cum[lab] + rb[idx][lab]
        return lab, sel

    def gather(cls_mask):
        lab, sel = gather_idx(np.flatnonzero(cls_mask))
        return slow_sel[cls_mask], lab, sel

    def plan_and_store(cls_id, cls_mask, gv, gc, blk, nblk):
        vals_by_class[cls_id] = gv
        cnts_by_class[cls_id] = gc
        dstart = np.searchsorted(blk, np.arange(nblk))
        dend = np.concatenate((dstart[1:], [len(blk)]))
        card = dend - dstart
        n = blen[slow_sel[cls_mask]]
        # descending-count prefix sums from the counts > 1 only
        bigm = gc > 1
        bblk = blk[bigm]
        border = np.lexsort((-gc[bigm], bblk))
        bcnt_s = gc[bigm][border]
        bstart = np.searchsorted(bblk[border], np.arange(nblk))
        bend = np.concatenate((bstart[1:], [len(bcnt_s)]))
        nbig = bend - bstart
        bcum = np.concatenate(([0], np.cumsum(bcnt_s)))
        full_sz = 4 + 4 * card + (n * _widths(card - 1) + 7) // 8
        best_sz = np.where(card <= _DICT_MAX, full_sz, _BIG)
        best_k = card.astype(np.int64)
        best_esc = np.zeros(nblk, bool)
        k = 1
        while k < _DICT_MAX:
            kmask = (card > 1) & (k < np.minimum(card, _DICT_MAX))
            topk = (
                bcum[bstart + np.minimum(k, nbig)]
                - bcum[bstart]
                + np.maximum(0, k - nbig)
            )
            sz = 8 + 4 * k + (n * int(k).bit_length() + 7) // 8 + 4 * (n - topk)
            upd = kmask & (sz < best_sz)
            best_k = np.where(upd, k, best_k)
            best_esc = np.where(upd, True, best_esc)
            best_sz = np.where(upd, sz, best_sz)
            k <<= 1
        grp[cls_mask] = cls_id
        ds[cls_mask] = dstart
        de[cls_mask] = dend
        pk[cls_mask] = best_k
        pesc[cls_mask] = best_esc
        psz[cls_mask] = best_sz

    if narrow.any():
        # keyspace-bounded chunks: one bincount per <=2^22 combined keys
        # (32 MB float64) instead of one buffer proportional to the whole
        # batch's summed value ranges — the per-block path never held
        # more than one block's range, so the batch path must stay
        # bounded too (N parallel workers multiply any transient)
        _KEY_CAP = 1 << 22
        pos_n = np.flatnonzero(narrow)
        sizes = (vr[narrow] + 1).tolist()
        bounds, start, acc = [], 0, 0
        for i, s_ in enumerate(sizes):
            if acc + s_ > _KEY_CAP and i > start:
                bounds.append((start, i))
                start, acc = i, 0
            acc += s_
        bounds.append((start, len(sizes)))
        gv_p, gc_p, blk_p = [], [], []
        for a0, a1 in bounds:
            pos = pos_n[a0:a1]
            lab, sel = gather_idx(pos)
            vmin_c = vmin[slow_sel[pos]]
            off = np.concatenate(([0], np.cumsum(vr[narrow][a0:a1] + 1)))
            key = off[lab] + (rvals[sel] - vmin_c[lab])
            cnt = np.bincount(key, weights=seg_len[sel], minlength=int(off[-1]))
            nz = np.flatnonzero(cnt)
            blk_local = np.searchsorted(off, nz, side="right") - 1
            gv_p.append((nz - off[blk_local]) + vmin_c[blk_local])
            gc_p.append(cnt[nz].astype(np.int64))
            blk_p.append(blk_local + a0)
        plan_and_store(
            0, narrow,
            np.concatenate(gv_p), np.concatenate(gc_p), np.concatenate(blk_p),
            len(pos_n),
        )
    if unit.any():
        idx, lab, sel = gather(unit)
        vmin_c = vmin[idx]
        ks = np.sort((lab << _SHIFT) + (rvals[sel] - vmin_c[lab]))
        gstart = np.flatnonzero(np.concatenate(([True], ks[1:] != ks[:-1])))
        blk = ks[gstart] >> _SHIFT
        gv = (ks[gstart] - (blk << _SHIFT)) + vmin_c[blk]
        gc = np.diff(np.concatenate((gstart, [len(ks)])))
        plan_and_store(1, unit, gv, gc, blk, len(idx))
    if rest.any():
        idx, lab, sel = gather(rest)
        vmin_c = vmin[idx]
        key = (lab << _SHIFT) + (rvals[sel] - vmin_c[lab])
        order = np.argsort(key)
        ks = key[order]
        gstart = np.flatnonzero(np.concatenate(([True], ks[1:] != ks[:-1])))
        blk = ks[gstart] >> _SHIFT
        gv = (ks[gstart] - (blk << _SHIFT)) + vmin_c[blk]
        gc = np.add.reduceat(seg_len[sel][order], gstart)
        plan_and_store(2, rest, gv, gc, blk, len(idx))

    return (
        vals_by_class, cnts_by_class, grp.tolist(), ds.tolist(), de.tolist(),
        pk.tolist(), pesc.tolist(), psz.tolist(),
    )


def encode_flat(
    flat: np.ndarray,
    offsets: np.ndarray,
    block_size: int = DEFAULT_BLOCK_SIZE,
    force_raw: np.ndarray | None = None,
):
    """Batch-vectorized encode of many rows at once.

    flat: all rows' tokens concatenated (int32); offsets: row boundaries
    (len n_rows+1, offsets[0] may be nonzero for sliced Arrow buffers).
    Returns (blocks_per_row, bytes_out[n_rows], row_hash[n_rows]).

    Design: per-block stats (min/max, run structure, delta ranges) are
    computed for ALL blocks in vectorized numpy via reduceat/cumsum over
    the flat buffer — per-block Python work only remains where the
    dictionary or periodic candidates are genuinely in play (crumble's
    cheap-stats-gate-expensive-analysis, applied to the batch dimension).
    Choices are identical to cost.choose modulo exact-tie ordering.
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    base = int(offsets[0])
    A = np.ascontiguousarray(flat[base : int(offsets[-1])], dtype=np.int32)
    offs = offsets - base
    n_rows = len(offs) - 1
    row_len = np.diff(offs)
    nb = (row_len + block_size - 1) // block_size
    total = int(nb.sum())
    blocks_per_row: list[list] = [[] for _ in range(n_rows)]
    bytes_out = np.zeros(n_rows, np.int64)
    row_hash = np.zeros(n_rows, np.int64)
    if total == 0:
        return blocks_per_row, bytes_out, row_hash
    if force_raw is None:
        force_raw = np.zeros(n_rows, dtype=bool)

    block_row = np.repeat(np.arange(n_rows), nb)
    nb_excl = np.concatenate(([0], np.cumsum(nb)[:-1]))
    block_id = np.arange(total) - nb_excl[block_row]
    bstart = offs[block_row] + block_id * block_size
    bend = np.minimum(bstart + block_size, offs[block_row + 1])
    blen = bend - bstart

    # vectorized per-block stats (blocks tile A contiguously)
    vmin = np.minimum.reduceat(A, bstart).astype(np.int64)
    vmax = np.maximum.reduceat(A, bstart).astype(np.int64)
    d = A[1:] != A[:-1]
    rs = np.flatnonzero(d) + 1
    all_starts = np.union1d(bstart, rs)
    seg_len = np.diff(np.concatenate((all_starts, [len(A)])))
    rb = np.searchsorted(all_starts, bstart)
    rvals = A[all_starts].astype(np.int64)
    run_vmin = np.minimum.reduceat(rvals, rb)
    run_vmax = np.maximum.reduceat(rvals, rb)
    max_run = np.maximum.reduceat(seg_len, rb)
    n_runs = np.diff(np.concatenate((rb, [len(all_starts)])))

    if len(A) > 1:
        diffs = A[1:].astype(np.int64) - A[:-1]
        zz = ((diffs << 1) ^ (diffs >> 63)).astype(np.int64)
        zz[bstart[1:] - 1] = 0  # cross-block pairs don't count
        starts_c = np.minimum(bstart, len(zz) - 1)
        zzmax = np.maximum.reduceat(zz, starts_c)
        zzmax[blen < 2] = 0
    else:
        zz = np.zeros(0, np.int64)
        zzmax = np.zeros(total, np.int64)

    sz_raw = 4 * blen
    sz_for = 9 + (blen * _widths(vmax - vmin) + 7) // 8
    sz_rle = (
        14
        + (n_runs * _widths(run_vmax - run_vmin) + 7) // 8
        + (n_runs * _widths(max_run - 1) + 7) // 8
    )
    sz_delta = 5 + ((blen - 1) * _widths(zzmax) + 7) // 8
    # codec-id order so argmin tie-breaks match cost.choose's (size, id)
    size_matrix = np.stack([sz_raw, sz_rle, sz_for, sz_delta])
    cheap_ids = np.array([0, 2, 4, 5], dtype=np.int64)[np.argmin(size_matrix, axis=0)]
    best_cheap = size_matrix.min(axis=0)

    const_mask = vmin == vmax
    dict_lb = 12 + (blen + 7) // 8
    slow_mask = (~const_mask) & ((dict_lb < best_cheap) | (best_cheap * 8 > blen))

    rb_end = np.concatenate((rb[1:], [len(all_starts)]))

    # batched slow-path dict machinery: per-block value/count uniquing,
    # descending-count planning and the power-of-two dict plan were the
    # dominant per-block Python cost (~7k of 16k blocks on the mixed
    # corpus take this path).  _batch_slow_plans computes all of it in a
    # handful of whole-batch numpy ops, class-split exactly like
    # stats._materialize_counts so each block pays the same algorithm it
    # would have per-block — byte-identical output, golden-pinned.
    slow_sel = np.flatnonzero(slow_mask & ~force_raw[block_row])
    if len(slow_sel):
        slow_batch = _batch_slow_plans(
            rvals, seg_len, rb, rb_end, blen, vmin, vmax, slow_sel
        )
        slow_pos = np.full(total, -1, np.int64)
        slow_pos[slow_sel] = np.arange(len(slow_sel))
        slow_pos_l = slow_pos.tolist()
        (sb_vals, sb_cnts, sb_grp_l, sb_ds_l, sb_de_l,
         sb_k_l, sb_esc_l, sb_sz_l) = slow_batch
    from . import stats as stats_mod  # local import avoids a cycle
    from .codecs import constant as constant_mod
    from .codecs import delta_bp as delta_mod
    from .codecs import for_bp as for_mod
    from .codecs import rle as rle_mod

    # interpreter-cost discipline: at small blocks the per-block Python
    # work dominates, so (a) every per-block scalar is pre-converted to a
    # plain int via one tolist() (numpy scalar indexing is ~10x slower),
    # (b) cheap codecs are emitted through encode_pre() fed from the batch
    # stats (no per-block min/max/run re-derivation — byte-identical by
    # construction), (c) the block crc is taken from the bytes we already
    # materialized for the payload/hash
    cls = np.where(
        force_raw[block_row],
        0,
        np.where(const_mask, 1, np.where(slow_mask, 3, cheap_ids + 4)),
    ).tolist()
    best_cheap_l = best_cheap.tolist()
    bstart_l = bstart.tolist()
    blen_l = blen.tolist()
    block_row_l = block_row.tolist()
    block_id_l = block_id.tolist()
    vmin_l = vmin.tolist()
    w_for = _widths(vmax - vmin).tolist()
    w_zz = _widths(zzmax).tolist()
    rvmin_l = run_vmin.tolist()
    w_rv = _widths(run_vmax - run_vmin).tolist()
    w_rl = _widths(max_run - 1).tolist()
    rb_l = rb.tolist()
    rb_end_l = rb_end.tolist()
    crc32 = hashing.zlib.crc32
    MASK = (1 << 63) - 1
    RAW, CONSTANT, RLE, DICT = codecs_mod.RAW, codecs_mod.CONSTANT, codecs_mod.RLE, codecs_mod.DICT
    FOR_BP, DELTA_BP = codecs_mod.FOR_BP, codecs_mod.DELTA_BP

    for b in range(total):
        row = block_row_l[b]
        s = bstart_l[b]
        n_b = blen_l[b]
        e = s + n_b
        chunk = A[s:e]
        cb = chunk.tobytes()
        bid = block_id_l[b]
        c = cls[b]
        if c == 4 + RAW or c == 0:  # cheap RAW / forced RAW
            cid, payload = RAW, cb
        elif c == 4 + FOR_BP:
            cid = FOR_BP
            payload = for_mod.encode_pre(chunk, vmin_l[b], w_for[b])
        elif c == 4 + RLE:
            cid = RLE
            payload = rle_mod.encode_pre(
                rvals[rb_l[b] : rb_end_l[b]],
                seg_len[rb_l[b] : rb_end_l[b]],
                rvmin_l[b],
                w_rv[b],
                w_rl[b],
            )
        elif c == 4 + DELTA_BP:
            cid = DELTA_BP
            payload = delta_mod.encode_pre(int(chunk[0]), zz[s : e - 1], w_zz[b])
        elif c == 1:
            cid, payload = CONSTANT, constant_mod.encode(chunk)
        else:  # slow path: dict / fsst / tile candidates in play
            sp = slow_pos_l[b]
            st = stats_mod.BlockStats(
                n=n_b,
                vmin=vmin_l[b],
                vmax=int(vmax[b]),
                n_runs=int(n_runs[b]),
                run_vrange=int(run_vmax[b]) - rvmin_l[b],
                max_run_len=int(max_run[b]),
                max_zigzag=int(zzmax[b]),
                _rvals=rvals[rb_l[b] : rb_end_l[b]],
                _lengths=seg_len[rb_l[b] : rb_end_l[b]],
                # batch-derived uniquing + dict plan (byte-identical to the
                # per-block derivation; see _batch_slow_plans)
                _values=sb_vals[sb_grp_l[sp]][sb_ds_l[sp] : sb_de_l[sp]],
                _counts=sb_cnts[sb_grp_l[sp]][sb_ds_l[sp] : sb_de_l[sp]],
                _dict_plan=(sb_k_l[sp], sb_esc_l[sp], sb_sz_l[sp]),
            )
            cid, payload = cost.choose_with_stats(chunk, st)
        if c >= 4 and len(payload) != best_cheap_l[b]:
            # the vectorized sizing (reduceat stats + _widths) and the
            # emitted encode_pre bytes must never disagree — the cheap-path
            # twin of cost.choose_with_stats's size assert
            raise AssertionError(
                f"cheap-codec size drift: codec {cid} emitted {len(payload)} "
                f"bytes, batch sizing predicted {best_cheap_l[b]}"
            )
        blocks_per_row[row].append(
            {"block_id": bid, "codec_id": cid, "n": n_b, "payload": payload}
        )
        bytes_out[row] += len(payload) + BLOCK_OVERHEAD
        row_hash[row] = (row_hash[row] + (bid + 1) * crc32(cb)) & MASK
    return blocks_per_row, bytes_out, row_hash


def encode_tokens(a: np.ndarray, block_size: int = DEFAULT_BLOCK_SIZE, force_raw: bool = False):
    """Encode one token array → (blocks, bytes_out, row_hash).

    Blocks never cross row boundaries (SURVEY.md §7.6) so row round-trip
    equality is local, mirroring crumble bounding all decisions to a
    ±250bp window (snp_score.c:1229).

    force_raw: the preserve-verbatim override — crumble's -R keep-bed /
    low-mqual whole-read preserve (snp_score.c:1443-1463, 1852-1859)
    expressed as a row predicate: every block stored as codec 0.
    """
    a = np.ascontiguousarray(a, dtype=np.int32)
    blocks, bytes_out, row_hash = encode_flat(
        a, np.array([0, len(a)], dtype=np.int64), block_size,
        force_raw=np.array([force_raw]),
    )
    return blocks[0], int(bytes_out[0]), int(row_hash[0])


def _token_buffers(toks: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy (int32 values, offsets from 0) of a list<int> column.  A
    float column would be truncated by the cast (and row_hash would
    'verify' the corruption), and wider integers must fit int32."""
    vtype = toks.type.value_type
    if not pa.types.is_integer(vtype):
        raise ValueError(f"input contract violation: tokens are {vtype}, expected int32")
    offs = toks.offsets.to_numpy().astype(np.int64)
    values = toks.values.slice(offs[0], offs[-1] - offs[0])
    if values.null_count:  # to_numpy would turn them into NaN, then garbage
        raise ValueError("input contract violation: null tokens")
    flat = values.to_numpy(zero_copy_only=False)
    if vtype != pa.int32() and len(flat) and (flat.min() < -(1 << 31) or flat.max() >= 1 << 31):
        raise ValueError(f"input contract violation: {vtype} tokens exceed int32 range")
    return flat.astype(np.int32, copy=False), offs - offs[0]


def encode_record_batch(
    batch: pa.RecordBatch, block_size: int = DEFAULT_BLOCK_SIZE, n_splits: int = 256
) -> tuple[pa.RecordBatch, dict]:
    """(doc_id, tokens, source[, split_id][, force_raw]) Arrow batch →
    (PA_ENCODED batch, lineage counters).  encode_flat sees row slices of
    at most MAX_TOKENS_PER_SLICE tokens, or one longer row alone.  split_id
    passes through, else is with_split_id's crc32(doc_id) % n_splits."""
    names = batch.schema.names
    flat, offs = _token_buffers(batch.column("tokens"))
    n = batch.num_rows
    force = np.zeros(n, bool)
    if "force_raw" in names:
        force = batch.column("force_raw").to_numpy(zero_copy_only=False).astype(bool)
    blocks, bytes_out, row_hash = [], np.zeros(n, np.int64), np.zeros(n, np.int64)
    lo = 0
    while lo < n:
        hi = int(np.searchsorted(offs, offs[lo] + MAX_TOKENS_PER_SLICE, "right")) - 1
        hi = min(max(hi, lo + 1), n)
        b, bytes_out[lo:hi], row_hash[lo:hi] = encode_flat(
            flat, offs[lo : hi + 1], block_size, force[lo:hi]
        )
        blocks += b
        lo = hi
    n_tok = np.diff(offs)
    doc_id = batch.column("doc_id")
    split_id = (
        batch.column("split_id").cast(pa.int32())
        if "split_id" in names
        else pa.array([zlib.crc32(d.encode()) % n_splits for d in doc_id.to_pylist()], pa.int32())
    )
    blocks_arr = pa.array(blocks, pa.list_(PA_BLOCK))
    out = pa.record_batch(
        [
            doc_id.cast(pa.string()),
            batch.column("source").cast(pa.string()),
            pa.array(n_tok, pa.int32()),
            split_id,
            blocks_arr,
            pa.array(n_tok * 4, pa.int64()),
            pa.array(bytes_out, pa.int64()),
            pa.array(row_hash, pa.int64()),
        ],
        schema=PA_ENCODED,
    )
    hist = np.bincount(blocks_arr.flatten().field("codec_id").to_numpy()).tolist()
    return out, {
        "n_rows": n,
        "n_tokens": int(offs[-1]),
        "bytes_in": int(offs[-1]) * 4,
        "bytes_out": int(bytes_out.sum()),
        "checksum": int((row_hash % (1 << 31)).sum()),
        "codec_hist": {cid: k for cid, k in enumerate(hist) if k},
    }


def with_split_id(df: DataFrame, n_splits: int) -> DataFrame:
    """Deterministic split assignment (crc32 of doc_id) — stable across
    runs/cluster sizes, which is what makes lineage-based resume sound,
    and reproducible JVM-side (F.crc32) AND python-side (zlib.crc32) so
    the pyarrow-direct source assigns identical splits.
    Idempotent: a df that already carries split_id passes through."""
    if "split_id" in df.columns:
        return df
    return df.withColumn(
        "split_id",
        F.pmod(F.crc32(F.col("doc_id").cast("binary")), F.lit(n_splits)).cast("int"),
    )


def encode_df(
    df: DataFrame, block_size: int = DEFAULT_BLOCK_SIZE, n_splits: int = 256
) -> DataFrame:
    """tokens table → encoded table (blocks of codec-tagged payloads)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield encode_record_batch(batch, block_size, n_splits)[0]

    return df.mapInArrow(fn, schema=ENCODED_SCHEMA)

