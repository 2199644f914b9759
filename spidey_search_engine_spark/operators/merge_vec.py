"""Vectorized partial-posting merge kernel (A7 fast path, round 2).

``build.merge_partials``' reduce side originally looped: per partial row,
4 ``decode_varints`` calls (header/gaps/tf/dl) + per-group python merge +
a per-128-doc-block python loop for block-max metadata. At 600k docs the
reduce stage spent most of its ~82 s of task time in that per-row/per-block
numpy-dispatch overhead, not in byte work.

This kernel processes one Arrow batch of partial rows in whole-batch numpy
passes:

1. concatenate every row's binary into ONE buffer, locate every varint
   with a single terminator scan, then decode VALUES only at the
   header/gaps/tf/dl value indices (subset byte-plane gathers) — the
   position-gap section, the bulk of every buffer, is never decoded; its
   RAW bytes are carried through untouched exactly like _merge_group's
   fast path (a first draft decoded positions too and was SLOWER than the
   per-row loop it replaced: 153M wasted value-decodes per 600k-doc build);
2. recover each row's section layout from the known row byte offsets
   (first value = n, then n gaps / n tf / n dl, remainder = raw positions);
3. order rows by (group, first_doc) with one lexsort, rebuild doc_ids with
   a segmented cumsum, re-gap them per group, and check strict sortedness —
   groups with interleaved doc ranges (hash-partitioned input) fall back to
   the per-group ``_merge_group`` decode+argsort path;
4. compute per-group n_docs/cf and per-block (first/last doc, max tf,
   min dl) with ``np.add/maximum/minimum.reduceat`` over globally built
   block boundaries — no python loop over blocks;
5. varint-encode each output section ONCE for the whole batch and slice
   per-group byte ranges (the same trick as build._partials_from_batch).

Output rows are BYTE-IDENTICAL to ``_merge_group`` applied per
(term, segment) group (pinned by
tests/test_build_kernel.py::test_vectorized_merge_equals_legacy and every
byte-equality test of a built index). DOCSHA sentinel rows carry raw
32-byte payloads that are NOT varints and would desync the global
decode — they are routed to the per-group merge before concatenation.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

BLOCK_SIZE = 128  # must equal build.BLOCK_SIZE


def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenate arange(start_i, start_i+count_i) — fully vectorized."""
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    cc = np.cumsum(counts)
    return (np.arange(total, dtype=np.int64)
            + np.repeat(starts - np.r_[0, cc[:-1]], counts))


def _varint_bounds(big: np.ndarray):
    """One terminator scan over the concatenated buffer → per-value
    (start_byte, length, end_byte) arrays. Values are NOT decoded here —
    the position-gap section is the bulk of every buffer and the merge
    never needs its values (raw bytes pass through), so decoding is done
    lazily per value-index subset by ``_decode_at``."""
    is_last = (big & 0x80) == 0
    ends = np.flatnonzero(is_last)
    n = ends.size
    starts = np.empty(n, dtype=np.int64)
    if n:
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
    vlens = ends - starts + 1
    return starts, vlens, ends


def _decode_at(big: np.ndarray, starts: np.ndarray, vlens: np.ndarray,
               idx: np.ndarray) -> np.ndarray:
    """Decode ONLY the varints at value indices `idx` (vectorized
    byte-plane accumulation over the subset)."""
    if idx.size == 0:
        return np.zeros(0, dtype=np.uint64)
    s = starts[idx]
    l = vlens[idx]
    values = np.zeros(idx.size, dtype=np.uint64)
    for i in range(int(l.max())):
        take = l > i
        values[take] |= ((big[s[take] + i].astype(np.uint64)
                          & np.uint64(0x7F)) << np.uint64(7 * i))
    return values


def merge_batch_vectorized(terms: np.ndarray, segs: np.ndarray,
                           bins: list, merge_group_fn) -> list:
    """Merge one batch of partial rows (already sorted by (term, segment),
    groups fully contained) → list of POSTING_SCHEMA tuples, preserving
    group order. `merge_group_fn(term, seg, bins)` is the per-group
    merge used for sentinel/interleaved fallback groups."""
    from .build import DOCSHA_TERM, _merge_group  # noqa: F401 (doc ref)
    from ..functions.compress import encode_varints_with_lengths

    nrows = len(bins)
    if nrows == 0:
        return []

    # --- route DOCSHA rows (raw byte payloads) to the per-group merge ----
    sha_mask = np.array([t == DOCSHA_TERM for t in terms], dtype=bool)
    out_by_slot: dict[int, list] = {}
    if sha_mask.any():
        keep = ~sha_mask
        # group slot = index of each group's first row, for ordered output
        sha_idx = np.flatnonzero(sha_mask)
        i = 0
        while i < sha_idx.size:
            j = i
            while (j + 1 < sha_idx.size
                   and sha_idx[j + 1] == sha_idx[j] + 1
                   and segs[sha_idx[j + 1]] == segs[sha_idx[i]]):
                j += 1
            rows_i = sha_idx[i:j + 1]
            out_by_slot[int(rows_i[0])] = [merge_group_fn(
                terms[rows_i[0]], int(segs[rows_i[0]]),
                [bins[k] for k in rows_i])]
            i = j + 1
        terms = terms[keep]
        segs = segs[keep]
        bins = [b for b, k in zip(bins, keep) if k]
        orig_idx = np.flatnonzero(keep)
        nrows = len(bins)
        if nrows == 0:
            return [r for _, rows in sorted(out_by_slot.items())
                    for r in rows]
    else:
        orig_idx = np.arange(nrows, dtype=np.int64)

    lens = np.fromiter((len(b) for b in bins), dtype=np.int64, count=nrows)
    row_start = np.zeros(nrows + 1, dtype=np.int64)
    np.cumsum(lens, out=row_start[1:])
    big = np.frombuffer(b"".join(bins), dtype=np.uint8)
    v_starts, v_lens, ends = _varint_bounds(big)

    row_first_v = np.searchsorted(ends, row_start[:-1])
    n_r = _decode_at(big, v_starts, v_lens, row_first_v).astype(np.int64)
    if (n_r <= 0).any():
        raise ValueError("partial row with zero postings")
    first_doc_r = _decode_at(big, v_starts, v_lens,
                             row_first_v + 1).astype(np.int64)

    new_grp = np.ones(nrows, dtype=bool)
    new_grp[1:] = (terms[1:] != terms[:-1]) | (segs[1:] != segs[:-1])
    grp_id = np.cumsum(new_grp) - 1

    order = np.lexsort((np.arange(nrows), first_doc_r, grp_id))
    o_counts = n_r[order]
    o_base = (row_first_v + 1)[order]

    cc = np.cumsum(o_counts)
    part_starts = np.r_[0, cc[:-1]]
    gaps_all = _decode_at(big, v_starts, v_lens, _ranges(o_base, o_counts))
    tf_all = _decode_at(big, v_starts, v_lens,
                        _ranges(o_base + o_counts, o_counts))
    dl_all = _decode_at(big, v_starts, v_lens,
                        _ranges(o_base + 2 * o_counts, o_counts))

    c = np.cumsum(gaps_all.astype(np.int64))
    adjust = c[part_starts] - gaps_all[part_starts].astype(np.int64)
    doc_ids = c - np.repeat(adjust, o_counts)

    o_grp = grp_id[order]
    grp_row_starts = np.flatnonzero(np.r_[True, o_grp[1:] != o_grp[:-1]])
    ngroups = grp_row_starts.size
    grp_doc_starts = part_starts[grp_row_starts]
    n_docs_g = np.add.reduceat(o_counts, grp_row_starts)
    grp_doc_ends = grp_doc_starts + n_docs_g

    # strict sortedness within groups (fast path precondition)
    d = np.diff(doc_ids)
    bad_pos = np.zeros(doc_ids.size, dtype=bool)
    bad_pos[1:] = d <= 0
    bad_pos[grp_doc_starts] = False
    slow_groups: set[int] = set()
    if bad_pos.any():
        grp_of_doc = np.repeat(np.arange(ngroups), n_docs_g)
        slow_groups = set(int(g) for g in np.unique(grp_of_doc[bad_pos]))

    gaps_out = doc_ids.copy()
    gaps_out[1:] = d
    gaps_out[grp_doc_starts] = doc_ids[grp_doc_starts]

    # --- block-max metadata, all groups at once --------------------------
    tfs = (tf_all >> np.uint64(1)).astype(np.int64)
    nblocks = (n_docs_g + BLOCK_SIZE - 1) // BLOCK_SIZE
    blk_within = _ranges(np.zeros(ngroups, dtype=np.int64), nblocks)
    blk_starts = np.repeat(grp_doc_starts, nblocks) + blk_within * BLOCK_SIZE
    blk_ends = np.minimum(blk_starts + BLOCK_SIZE,
                          np.repeat(grp_doc_ends, nblocks))
    bmax_tf = np.maximum.reduceat(tfs, blk_starts)
    bmin_dl = np.minimum.reduceat(dl_all.astype(np.int64), blk_starts)
    bfirst = doc_ids[blk_starts]
    blast = doc_ids[blk_ends - 1]
    cf_g = np.add.reduceat(tfs, grp_doc_starts)
    blk_grp_starts = np.zeros(ngroups + 1, dtype=np.int64)
    np.cumsum(nblocks, out=blk_grp_starts[1:])

    # --- encode output sections once for the whole batch -----------------
    bufH, lensH = encode_varints_with_lengths(n_docs_g.astype(np.uint64))
    cumH = np.zeros(ngroups + 1, dtype=np.int64)
    np.cumsum(lensH, out=cumH[1:])

    def _section(vals):
        buf, lens_ = encode_varints_with_lengths(vals.astype(np.uint64))
        cum = np.zeros(lens_.size + 1, dtype=np.int64)
        np.cumsum(lens_, out=cum[1:])
        return buf, cum[np.r_[grp_doc_starts, doc_ids.size]]

    bufG, cumG = _section(gaps_out)
    bufT, cumT = _section(tf_all)
    bufD, cumD = _section(dl_all)

    # --- raw position bytes per ordered row ------------------------------
    pos_start_b = ends[row_first_v + 3 * n_r] + 1
    pos_end_b = row_start[1:]
    o_pos_start = pos_start_b[order]
    o_pos_end = pos_end_b[order]
    big_bytes = big.tobytes()

    # --- assemble group rows ---------------------------------------------
    out_rows: list = []
    grp_row_ends = np.r_[grp_row_starts[1:], nrows]
    for g in range(ngroups):
        r0 = grp_row_starts[g]
        term = terms[order[r0]]
        seg = int(segs[order[r0]])
        slot = int(orig_idx[order[r0]])
        if g in slow_groups:
            row = merge_group_fn(
                term, seg, [bins[order[r]] for r in range(r0, grp_row_ends[g])])
        else:
            pos_bytes = b"".join(
                big_bytes[o_pos_start[r]:o_pos_end[r]]
                for r in range(r0, grp_row_ends[g]))
            buf = b"".join((bufH[cumH[g]:cumH[g + 1]],
                            bufG[cumG[g]:cumG[g + 1]],
                            bufT[cumT[g]:cumT[g + 1]],
                            bufD[cumD[g]:cumD[g + 1]],
                            pos_bytes))
            b0, b1 = blk_grp_starts[g], blk_grp_starts[g + 1]
            row = (term, seg, int(n_docs_g[g]), int(cf_g[g]), buf,
                   bfirst[b0:b1].tolist(), blast[b0:b1].tolist(),
                   bmax_tf[b0:b1].tolist(), bmin_dl[b0:b1].tolist())
        out_by_slot.setdefault(slot, []).append(row)

    return [r for _, rows in sorted(out_by_slot.items()) for r in rows]


def merge_stream_vectorized(batches: Iterator[pd.DataFrame],
                            out_cols: list[str],
                            merge_group_fn) -> Iterator[pd.DataFrame]:
    """Streaming wrapper: carry the (possibly group-splitting) LAST group's
    rows across Arrow batch boundaries, so each group reaches the kernel
    whole, then run the vectorized kernel per batch."""
    carry_terms: list = []
    carry_segs: list = []
    carry_bins: list = []

    def run(terms, segs, bins):
        return merge_batch_vectorized(np.asarray(terms, dtype=object),
                                      np.asarray(segs, dtype=np.int64),
                                      bins, merge_group_fn)

    for pdf in batches:
        if len(pdf) == 0:
            continue
        terms = list(carry_terms) + list(pdf["term"])
        segs = list(carry_segs) + [int(s) for s in pdf["segment"]]
        bins = list(carry_bins) + [bytes(b) for b in pdf["bin"]]
        # hold back the trailing group — it may continue in the next batch
        last_key = (terms[-1], segs[-1])
        cut = len(terms) - 1
        while cut > 0 and (terms[cut - 1], segs[cut - 1]) == last_key:
            cut -= 1
        carry_terms, carry_segs, carry_bins = \
            terms[cut:], segs[cut:], bins[cut:]
        if cut:
            rows = run(terms[:cut], segs[:cut], bins[:cut])
            if rows:
                yield pd.DataFrame(rows, columns=out_cols)
    if carry_bins:
        rows = run(carry_terms, carry_segs, carry_bins)
        if rows:
            yield pd.DataFrame(rows, columns=out_cols)
