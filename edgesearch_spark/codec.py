"""Posting-list block codec: adaptive containers, vectorized with numpy.

Plays the role of the reference's Roaring portable serialization
(reference: src/build/mod.rs:108-109 run-optimizes every bitmap;
wasm/roaring.c:1193-1194,3602-3605 array/bitset/run container kinds).
Our analogue is fixed-size blocks of BLOCK_SIZE postings, each
independently decodable, so salted partial posting lists can be merged by
pure concatenation and query-time skipping never decodes a block it can
prune. Like Roaring, every block picks the cheapest of three docID
containers by exact encoded size:

  DOC_VARINT  delta-1 gaps, LEB128        — sparse blocks (the default)
  DOC_RUN     (gap, len) run pairs        — consecutive docID runs
  DOC_BITSET  raw bitmap over the span    — dense, non-run blocks

plus a constant-tf flag that collapses the tf stream to one varint when
every tf in the block is equal (the overwhelmingly common case for hot
terms) — together these take a df≈N term from ~2 bytes/posting to
~1 bit/posting, the reference's dense-container behavior.

Per-block metadata (first/max docID, count, byte offset, BM25 block-max
weight, kind) lives in parallel arrays so skip/prune decisions never touch
the payload. first_doc in metadata makes every container headerless: the
bitset span is (max-first+1), varint/run streams carry no absolute docID.

Unlike the reference (which never scores), every block carries BM25
block-max metadata: the maximum tf-weight w = tf / (tf + k1*(1 - b + b*dl/avgdl))
over the block, enabling block-max WAND pruning at query time.

All encode/decode paths are numpy-vectorized — no per-value Python loops
(loops run over *byte positions* of the varint, max 10 iterations, or over
the ≤3 container kinds).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK_SIZE = 128  # postings per block (like a Roaring container, sized for SIMD-ish decode)

# kind byte: low 2 bits = docID container; bit 2 = constant-tf stream
DOC_VARINT, DOC_RUN, DOC_BITSET = 0, 1, 2
KIND_DOC_MASK = 0x3
KIND_CONST_TF = 0x4

_U64 = np.uint64
_SEVEN = _U64(7)
_MASK7 = _U64(0x7F)
_CONT = np.uint8(0x80)


def encode_varint(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints. Vectorized: the only loop
    is over the ≤10 varint byte positions."""
    v = np.ascontiguousarray(values, dtype=_U64)
    if v.size == 0:
        return b""
    nbytes = _varint_len(v)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for k in range(10):
        mask = nbytes > k
        if not mask.any():
            break
        pos = starts[mask] + k
        byte = ((v[mask] >> _U64(7 * k)) & _MASK7).astype(np.uint8)
        cont = (nbytes[mask] > (k + 1)).astype(np.uint8) * _CONT
        out[pos] = byte | cont
    return out.tobytes()


def _varint_len(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value: 1 + #(7-bit groups above the first)."""
    v = values if values.dtype == _U64 else values.astype(_U64)
    n = np.ones(v.size, dtype=np.int64)
    for k in range(1, 10):
        n += (v >= (_U64(1) << _U64(7 * k))).astype(np.int64)
    return n


def decode_varint(buf: bytes | np.ndarray, count: int | None = None) -> np.ndarray:
    """Decode a LEB128 byte stream into a uint64 array. Vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        return np.empty(0, dtype=_U64)
    ends = np.flatnonzero((b & _CONT) == 0)
    if count is not None:
        ends = ends[:count]
    starts = np.empty(ends.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(ends.size, dtype=_U64)
    for k in range(int(lengths.max())):
        mask = lengths > k
        vals[mask] |= (b[starts[mask] + k] & _MASK7).astype(_U64) << _U64(7 * k)
    return vals


@dataclass
class PostingBlocks:
    """One term's (or one term-shard's) posting list as independent blocks.

    Parallel metadata arrays allow skip/prune decisions without touching
    ``payload``; ``offsets[i]:offsets[i+1]`` slices block i's bytes.
    """

    first_doc: np.ndarray  # int64[n_blocks] — first (min) docID per block
    max_doc: np.ndarray  # int64[n_blocks] — last (max) docID per block
    counts: np.ndarray  # int32[n_blocks] — postings per block
    offsets: np.ndarray  # int64[n_blocks + 1] — byte offsets into payload
    max_weight: np.ndarray  # float32[n_blocks] — max tf-weight per block (block-max)
    kinds: np.ndarray  # uint8[n_blocks] — container kind byte (see module header)
    payload: bytes
    # int32[n_blocks] — max raw tf per block. Unlike max_weight (baked under
    # the BUILD-time avgdl), max_tf is avgdl-free, so a multi-segment engine
    # can derive a valid block upper bound under the LIVE global avgdl:
    # w = tf/(tf + k1(1-b+b·dl/avgdl)) ≤ max_tf/(max_tf + k1(1-b)).
    # None when read from a pre-max_tf index (engines then fall back).
    max_tf: np.ndarray | None = None

    @property
    def n_blocks(self) -> int:
        return int(self.counts.size)


def _empty_blocks() -> PostingBlocks:
    return PostingBlocks(
        first_doc=np.empty(0, np.int64),
        max_doc=np.empty(0, np.int64),
        counts=np.empty(0, np.int32),
        offsets=np.zeros(1, np.int64),
        max_weight=np.empty(0, np.float32),
        kinds=np.empty(0, np.uint8),
        payload=b"",
        max_tf=np.empty(0, np.int32),
    )


def encode_postings(
    doc_ids: np.ndarray, tfs: np.ndarray, weights: np.ndarray, block_size: int = BLOCK_SIZE
) -> PostingBlocks:
    """Encode sorted (doc_id, tf) postings into adaptive-container blocks.

    ``weights`` is the per-posting BM25 tf-weight (tf / (tf + K(dl))); only its
    per-block max is stored. Thin wrapper over the batch encoder so the
    single-row and batch paths are one implementation (byte-identical by
    construction, property-tested)."""
    return encode_postings_batch([doc_ids], [tfs], [weights], block_size=block_size)[0]


def _scatter_bytes(out: np.ndarray, src: bytes | np.ndarray, lens: np.ndarray, dst_starts: np.ndarray) -> None:
    """Copy the contiguous ``src`` buffer into ``out`` as per-block segments:
    segment i (length lens[i]) lands at dst_starts[i]. Vectorized gather."""
    total = int(lens.sum())
    if total == 0:
        return
    s = np.frombuffer(src, np.uint8) if isinstance(src, (bytes, bytearray, memoryview)) else src
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    off = np.arange(total) - np.repeat(starts, lens)
    out[np.repeat(dst_starts, lens) + off] = s[:total]


def _gather_bytes(payload: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate payload[starts[i] : starts[i]+lens[i]] segments."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, np.uint8)
    dst = np.concatenate([[0], np.cumsum(lens)[:-1]])
    off = np.arange(total) - np.repeat(dst, lens)
    return payload[np.repeat(starts, lens) + off]


def encode_postings_batch(
    doc_ids_list: list[np.ndarray],
    tfs_list: list[np.ndarray],
    ws_list: list[np.ndarray],
    block_size: int = BLOCK_SIZE,
) -> list[PostingBlocks]:
    """Encode MANY posting lists in one vectorized pass.

    All candidate container sizes (varint, run, bitset; const vs per-posting
    tf) are computed exactly and vectorized for every block at once; each
    block gets the smallest (ties prefer varint, then run). Per-row Python
    overhead vanishes (matters: at 10^5+ rare terms per Arrow batch, per-row
    encode is ~100× slower)."""
    n_rows = len(doc_ids_list)
    if n_rows == 0:
        return []
    row_len = np.fromiter((len(d) for d in doc_ids_list), dtype=np.int64, count=n_rows)
    empty = _empty_blocks()
    if row_len.sum() == 0:
        return [empty] * n_rows
    nonzero = row_len > 0
    docs_flat = np.concatenate([np.ascontiguousarray(d, np.int64) for d, m in zip(doc_ids_list, nonzero) if m])
    tfs_flat = np.concatenate([np.ascontiguousarray(t, np.int64) for t, m in zip(tfs_list, nonzero) if m])
    ws_flat = np.concatenate([np.ascontiguousarray(w, np.float32) for w, m in zip(ws_list, nonzero) if m])
    nz_len = row_len[nonzero]
    row_start = np.concatenate([[0], np.cumsum(nz_len)[:-1]])
    n = docs_flat.size
    row_head = np.zeros(n, dtype=bool)
    row_head[row_start] = True
    if n > 1 and ((docs_flat[1:] <= docs_flat[:-1]) & ~row_head[1:]).any():
        raise ValueError("doc_ids must be strictly increasing within each row")

    # ---- per-row block structure ----
    blocks_per_row = (nz_len + block_size - 1) // block_size
    n_blocks = int(blocks_per_row.sum())
    brow = np.repeat(np.arange(nz_len.size), blocks_per_row)  # owning row per block
    j_in_row = np.arange(n_blocks) - np.repeat(np.concatenate([[0], np.cumsum(blocks_per_row)[:-1]]), blocks_per_row)
    block_start = row_start[brow] + j_in_row * block_size
    block_end = np.minimum(block_start + block_size, row_start[brow] + nz_len[brow])
    counts = (block_end - block_start).astype(np.int64)
    first_doc = docs_flat[block_start]
    max_doc = docs_flat[block_end - 1]
    max_w = np.maximum.reduceat(ws_flat, block_start)
    pid_block = np.repeat(np.arange(n_blocks), counts)  # owning block per posting
    off_in_block = np.arange(n) - block_start[pid_block]
    is_head = off_in_block == 0

    # ---- candidate DOC_VARINT: (count-1) delta-1 gaps per block ----
    deltas = np.zeros(n, dtype=_U64)
    deltas[1:] = (docs_flat[1:] - docs_flat[:-1] - 1).astype(_U64)
    deltas[block_start] = 0  # heads carry no value (first_doc is metadata)
    dv_len = np.where(is_head, 0, _varint_len(deltas))
    doc_varint_bytes = np.add.reduceat(dv_len, block_start)

    # ---- candidate DOC_RUN: [len0-1, (gap-2, len-1)...] per block ----
    run_break = is_head.copy()
    run_break[1:] |= docs_flat[1:] != docs_flat[:-1] + 1
    run_head_idx = np.flatnonzero(run_break)
    run_pid = pid_block[run_head_idx]
    run_len = np.diff(np.append(run_head_idx, n))
    run_start_doc = docs_flat[run_head_idx]
    run_end_doc = run_start_doc + run_len - 1
    is_first_run = is_head[run_head_idx]
    prev_end = np.zeros(run_head_idx.size, np.int64)
    prev_end[1:] = run_end_doc[:-1]
    gap_stored = np.where(is_first_run, 0, run_start_doc - prev_end - 2).astype(_U64)
    run_v_len = (run_len - 1).astype(_U64)
    run_bytes = _varint_len(run_v_len) + np.where(is_first_run, 0, _varint_len(gap_stored))
    block_run_head = np.flatnonzero(is_first_run)  # first run index of each block
    doc_run_bytes = np.add.reduceat(run_bytes, block_run_head)

    # ---- candidate DOC_BITSET: raw bitmap over [first, max] span ----
    span = max_doc - first_doc + 1
    doc_bitset_bytes = (span + 7) // 8

    # ---- tf stream: per-posting varints vs one constant ----
    tfm1 = (tfs_flat - 1).astype(_U64)
    tf_len = _varint_len(tfm1)
    tf_varint_bytes = np.add.reduceat(tf_len, block_start)
    tf_lo = np.minimum.reduceat(tfs_flat, block_start)
    tf_hi = np.maximum.reduceat(tfs_flat, block_start)
    tf_const_bytes = _varint_len((tf_lo - 1).astype(_U64))
    use_const = (tf_lo == tf_hi) & (tf_const_bytes < tf_varint_bytes)
    tf_bytes = np.where(use_const, tf_const_bytes, tf_varint_bytes)

    # ---- pick per-block kind (exact min bytes; ties → varint, then run) ----
    dsizes = np.stack([doc_varint_bytes, doc_run_bytes, doc_bitset_bytes])
    doc_kind = np.argmin(dsizes, axis=0).astype(np.uint8)
    doc_bytes = dsizes[doc_kind, np.arange(n_blocks)]
    kinds = (doc_kind | np.where(use_const, KIND_CONST_TF, 0).astype(np.uint8)).astype(np.uint8)

    block_bytes = doc_bytes + tf_bytes
    blk_dst = np.concatenate([[0], np.cumsum(block_bytes)[:-1]])
    out = np.zeros(int(block_bytes.sum()), dtype=np.uint8)

    # ---- write doc parts (layout per block: [doc part][tf part]) ----
    k0 = doc_kind == DOC_VARINT
    if k0.any():
        m = ~is_head & k0[pid_block]
        _scatter_bytes(out, encode_varint(deltas[m]), doc_varint_bytes[k0], blk_dst[k0])
    k1 = doc_kind == DOC_RUN
    if k1.any():
        rsel = k1[run_pid]
        nsel = int(rsel.sum())
        vals_per_run = np.where(is_first_run[rsel], 1, 2)
        vbase = np.concatenate([[0], np.cumsum(vals_per_run)[:-1]])
        vals = np.empty(int(vals_per_run.sum()), dtype=_U64)
        fr = is_first_run[rsel]
        vals[vbase[fr]] = run_v_len[rsel][fr]
        vals[vbase[~fr]] = gap_stored[rsel][~fr]
        vals[vbase[~fr] + 1] = run_v_len[rsel][~fr]
        _scatter_bytes(out, encode_varint(vals), doc_run_bytes[k1], blk_dst[k1])
    k2 = doc_kind == DOC_BITSET
    if k2.any():
        nbm = doc_bitset_bytes[k2]
        bit_base = np.concatenate([[0], np.cumsum(nbm)[:-1]]) * 8
        # map each selected block to its slot in the bitset group
        slot = np.cumsum(k2) - 1  # valid where k2
        psel = k2[pid_block]
        bpos = bit_base[slot[pid_block[psel]]] + (docs_flat[psel] - first_doc[pid_block[psel]])
        bits = np.zeros(int(nbm.sum()) * 8, dtype=np.uint8)
        bits[bpos] = 1
        _scatter_bytes(out, np.packbits(bits, bitorder="little"), nbm, blk_dst[k2])

    # ---- write tf parts ----
    tv = ~use_const
    if tv.any():
        m = tv[pid_block]
        _scatter_bytes(out, encode_varint(tfm1[m]), tf_varint_bytes[tv], blk_dst[tv] + doc_bytes[tv])
    if use_const.any():
        _scatter_bytes(
            out,
            encode_varint((tf_lo[use_const] - 1).astype(_U64)),
            tf_const_bytes[use_const],
            blk_dst[use_const] + doc_bytes[use_const],
        )

    # ---- slice per row ----
    payload_all = out.tobytes()
    payload_mv = memoryview(payload_all)
    blk_end_g = blk_dst + block_bytes
    result: list[PostingBlocks] = []
    row_block_start = np.concatenate([[0], np.cumsum(blocks_per_row)]).astype(np.int64)
    nz_iter = 0
    for i in range(n_rows):
        if not nonzero[i]:
            result.append(empty)
            continue
        b0, b1 = row_block_start[nz_iter], row_block_start[nz_iter + 1]
        base = blk_dst[b0]
        offsets = np.empty(b1 - b0 + 1, dtype=np.int64)
        offsets[:-1] = blk_dst[b0:b1] - base
        offsets[-1] = blk_end_g[b1 - 1] - base
        result.append(
            PostingBlocks(
                first_doc=first_doc[b0:b1].copy(),
                max_doc=max_doc[b0:b1].copy(),
                counts=counts[b0:b1].astype(np.int32),
                offsets=offsets,
                max_weight=max_w[b0:b1].astype(np.float32),
                kinds=kinds[b0:b1].copy(),
                payload=bytes(payload_mv[base : blk_end_g[b1 - 1]]),
                max_tf=tf_hi[b0:b1].astype(np.int32),
            )
        )
        nz_iter += 1
    return result


def decode_block(pb: PostingBlocks, i: int) -> tuple[np.ndarray, np.ndarray]:
    """Decode block i → (doc_ids int64, tfs int64). Dispatches on kind."""
    c = int(pb.counts[i])
    kind = int(pb.kinds[i])
    dock = kind & KIND_DOC_MASK
    const = bool(kind & KIND_CONST_TF)
    first = int(pb.first_doc[i])
    raw = np.frombuffer(
        pb.payload, dtype=np.uint8, count=int(pb.offsets[i + 1] - pb.offsets[i]), offset=int(pb.offsets[i])
    )
    tcount = 1 if const else c
    if dock == DOC_BITSET:
        span = int(pb.max_doc[i]) - first + 1
        nbm = (span + 7) // 8
        bits = np.unpackbits(raw[:nbm], bitorder="little")
        docs = first + np.flatnonzero(bits[:span]).astype(np.int64)
        tvals = decode_varint(raw[nbm:], count=tcount).astype(np.int64)
    else:
        vals = decode_varint(raw).astype(np.int64)
        tvals = vals[vals.size - tcount :]
        dvals = vals[: vals.size - tcount]
        if dock == DOC_VARINT:
            docs = np.empty(c, np.int64)
            docs[0] = first
            if c > 1:
                docs[1:] = dvals + 1
                np.cumsum(docs, out=docs)
        else:  # DOC_RUN
            r = (dvals.size + 1) // 2
            lens = np.empty(r, np.int64)
            gaps = np.zeros(r, np.int64)
            lens[0] = dvals[0] + 1
            if r > 1:
                gaps[1:] = dvals[1::2]
                lens[1:] = dvals[2::2] + 1
            starts = np.empty(r, np.int64)
            starts[0] = first
            if r > 1:
                starts[1:] = first + np.cumsum(lens[:-1] + 1 + gaps[1:])
            run0 = np.concatenate([[0], np.cumsum(lens)[:-1]])
            docs = np.repeat(starts, lens) + (np.arange(c) - np.repeat(run0, lens))
    tfs = (np.full(c, tvals[0], np.int64) if const else tvals) + 1
    return docs, tfs


def decode_all(pb: PostingBlocks) -> tuple[np.ndarray, np.ndarray]:
    """Decode every block → (doc_ids, tfs), vectorized per container kind:
    blocks of each kind are gathered into ONE buffer and decoded with a
    single varint/unpackbits pass (per-block python loops cost ~10 µs/block —
    a 1M-posting hot term has ~8k blocks, so looping is 100× slower)."""
    if pb.n_blocks == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    counts = pb.counts.astype(np.int64)
    n = int(counts.sum())
    out_docs = np.empty(n, np.int64)
    out_tfs = np.empty(n, np.int64)
    payload = np.frombuffer(pb.payload, dtype=np.uint8)
    dock = pb.kinds & KIND_DOC_MASK
    const = (pb.kinds & KIND_CONST_TF) != 0
    tcounts = np.where(const, 1, counts)
    blk_len = np.diff(pb.offsets)
    post_start = np.concatenate([[0], np.cumsum(counts)[:-1]])

    def _positions(sel: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(pid-in-sel, off-in-block, global out position) per posting."""
        csel = counts[sel]
        total = int(csel.sum())
        p0 = np.concatenate([[0], np.cumsum(csel)[:-1]])
        pid = np.repeat(np.arange(csel.size), csel)
        off = np.arange(total) - np.repeat(p0, csel)
        gpos = np.repeat(post_start[sel], csel) + off
        return pid, off, gpos

    def _tf_fill(sel: np.ndarray, tvals: np.ndarray, tstart: np.ndarray, pid, off, gpos) -> None:
        csel_const = const[sel]
        tf_idx = tstart[pid] + np.where(csel_const[pid], 0, off)
        out_tfs[gpos] = tvals[tf_idx].astype(np.int64) + 1

    for k in (DOC_VARINT, DOC_RUN, DOC_BITSET):
        sel = dock == k
        if not sel.any():
            continue
        csel = counts[sel]
        tsel = tcounts[sel]
        first_sel = pb.first_doc[sel].astype(np.int64)
        pid, off, gpos = _positions(sel)
        if k == DOC_BITSET:
            span = pb.max_doc[sel].astype(np.int64) - first_sel + 1
            nbm = (span + 7) // 8
            bmap = _gather_bytes(payload, pb.offsets[:-1][sel], nbm)
            bits = np.unpackbits(bmap, bitorder="little")
            set_pos = np.flatnonzero(bits)
            bit_hi = np.cumsum(nbm) * 8
            owner = np.searchsorted(bit_hi, set_pos, side="right")
            docs_g = first_sel[owner] + set_pos - (bit_hi[owner] - nbm[owner] * 8)
            out_docs[gpos] = docs_g  # set_pos ascending ⇒ posting order per block
            tbuf = _gather_bytes(payload, pb.offsets[:-1][sel] + nbm, blk_len[sel] - nbm)
            tvals = decode_varint(tbuf)
            tstart = np.concatenate([[0], np.cumsum(tsel)[:-1]])
            _tf_fill(sel, tvals, tstart, pid, off, gpos)
            continue
        buf = _gather_bytes(payload, pb.offsets[:-1][sel], blk_len[sel])
        vals = decode_varint(buf).astype(np.int64)
        if k == DOC_VARINT:
            vcounts = csel - 1 + tsel
            vstart = np.concatenate([[0], np.cumsum(vcounts)[:-1]])
            adj = np.empty(int(csel.sum()), np.int64)
            body = off > 0
            adj[body] = vals[vstart[pid[body]] + off[body] - 1] + 1
            adj[~body] = first_sel[pid[~body]]
            csum = np.cumsum(adj)
            heads = np.flatnonzero(~body)
            base = csum[heads] - adj[heads]
            out_docs[gpos] = csum - base[pid]
            _tf_fill(sel, vals, vstart + csel - 1, pid, off, gpos)
        else:  # DOC_RUN
            # per-block varint value counts from terminator positions
            ends = np.flatnonzero((buf & _CONT) == 0)
            vcounts = np.diff(np.searchsorted(ends, np.concatenate([[0], np.cumsum(blk_len[sel])])))
            r_b = (vcounts - tsel + 1) // 2
            vstart = np.concatenate([[0], np.cumsum(vcounts)[:-1]])
            total_runs = int(r_b.sum())
            r0 = np.concatenate([[0], np.cumsum(r_b)[:-1]])
            rpid = np.repeat(np.arange(r_b.size), r_b)
            roff = np.arange(total_runs) - np.repeat(r0, r_b)
            lens = vals[vstart[rpid] + np.where(roff == 0, 0, 2 * roff)] + 1
            gaps = np.where(roff == 0, 0, vals[np.maximum(vstart[rpid] + 2 * roff - 1, 0)])
            inc = np.empty(total_runs, np.int64)
            headr = roff == 0
            inc[~headr] = lens[np.flatnonzero(~headr) - 1] + 1 + gaps[~headr]
            inc[headr] = first_sel[rpid[headr]]
            csum = np.cumsum(inc)
            hpos = np.flatnonzero(headr)
            base = csum[hpos] - inc[hpos]
            starts = csum - base[rpid]
            run_p0 = np.concatenate([[0], np.cumsum(lens)[:-1]])
            docs_g = np.repeat(starts, lens) + (np.arange(int(lens.sum())) - np.repeat(run_p0, lens))
            out_docs[gpos] = docs_g  # runs in block order ⇒ posting order
            _tf_fill(sel, vals, vstart + 2 * r_b - 1, pid, off, gpos)
    return out_docs, out_tfs


# ---- positional sidecar codec (IndexConfig.positions) ----
# Per-(term, salt) shard payload, three varint segments:
#
#   [doc gaps]   ndocs values — first doc absolute, then doc - prev - 1
#   [npos - 1]   ndocs values — per-doc position count minus one
#   [pos deltas] Σnpos values — per doc: first position absolute, then
#                pos - prev - 1 (positions are kept-token indexes, strictly
#                increasing within a doc)
#
# ndocs itself is NOT in the payload — it rides the shard row's ``df``
# column, mirroring the postings table. The segmented (non-interleaved)
# layout is what keeps decode fully vectorized: one decode_varint pass,
# then three array slices and a cumsum-with-per-doc-base reconstruction —
# an interleaved [gap, npos, deltas…]* stream would force a sequential
# walk over docs. Positions are 0-based indexes into the DROP-FILTERED
# token stream (tokenizer._tokens_col order), so adjacency of positions is
# exactly the phrase adjacency phrase_col tests.


def encode_positions_groups(
    docs_flat: np.ndarray, pos_flat: np.ndarray, group_starts: np.ndarray
) -> tuple[list[bytes], np.ndarray]:
    """Encode MANY (term, salt) position shards in one vectorized pass.

    ``docs_flat``/``pos_flat`` hold one row per position occurrence, sorted
    by (group, doc_id, pos); ``group_starts`` indexes each group's first
    row. Returns (payload per group, ndocs per group). All numpy — the only
    Python loop is the final per-group byte slice."""
    docs_flat = np.ascontiguousarray(docs_flat, np.int64)
    pos_flat = np.ascontiguousarray(pos_flat, np.int64)
    gs = np.asarray(group_starts, np.int64)
    n, G = docs_flat.size, gs.size
    if n == 0 or G == 0:
        return [], np.empty(0, np.int64)
    group_head = np.zeros(n, dtype=bool)
    group_head[gs] = True
    doc_head = group_head.copy()
    doc_head[1:] |= docs_flat[1:] != docs_flat[:-1]
    dh = np.flatnonzero(doc_head)
    nd_total = dh.size
    docs_u = docs_flat[dh]
    npos = np.diff(np.append(dh, n))
    pos_per_group = np.diff(np.append(gs, n))
    nd_per_group = np.add.reduceat(doc_head.astype(np.int64), gs)
    gid_per_doc = np.repeat(np.arange(G), nd_per_group)
    gdoc0 = np.concatenate([[0], np.cumsum(nd_per_group)[:-1]])
    j = np.arange(nd_total) - gdoc0[gid_per_doc]

    prev_doc = np.empty(nd_total, np.int64)
    prev_doc[1:] = docs_u[:-1]
    prev_doc[j == 0] = -1
    gaps = docs_u - prev_doc - 1
    if (gaps < 0).any():
        raise ValueError("doc_ids must be strictly increasing within a group")
    deltas = np.empty(n, np.int64)
    deltas[1:] = pos_flat[1:] - pos_flat[:-1] - 1
    deltas[dh] = pos_flat[dh]
    if (deltas < 0).any():
        raise ValueError("positions must be strictly increasing within a doc, ≥ 0")

    vals_per_group = 2 * nd_per_group + pos_per_group
    vstart = np.concatenate([[0], np.cumsum(vals_per_group)[:-1]])
    values = np.empty(int(vals_per_group.sum()), dtype=_U64)
    values[vstart[gid_per_doc] + j] = gaps.astype(_U64)
    values[vstart[gid_per_doc] + nd_per_group[gid_per_doc] + j] = (npos - 1).astype(_U64)
    gid_per_row = np.repeat(np.arange(G), pos_per_group)
    values[
        vstart[gid_per_row] + 2 * nd_per_group[gid_per_row] + (np.arange(n) - gs[gid_per_row])
    ] = deltas.astype(_U64)

    blob = encode_varint(values)
    nbytes = _varint_len(values)
    bytes_per_group = np.add.reduceat(nbytes, vstart)
    bstart = np.concatenate([[0], np.cumsum(bytes_per_group)])
    mv = memoryview(blob)
    payloads = [bytes(mv[bstart[g]:bstart[g + 1]]) for g in range(G)]
    return payloads, nd_per_group


def decode_positions(payload: bytes, ndocs: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one shard payload → (doc_ids int64[nd], npos int64[nd],
    positions int64[Σnpos]); ``positions`` is doc-major, split by npos."""
    nd = int(ndocs)
    if nd == 0:
        z = np.empty(0, np.int64)
        return z, z.copy(), z.copy()
    vals = decode_varint(payload).astype(np.int64)
    gaps = vals[:nd]
    npos = vals[nd:2 * nd] + 1
    deltas = vals[2 * nd:]
    docs = np.cumsum(gaps + 1) - 1
    h = np.concatenate([[0], np.cumsum(npos)[:-1]]).astype(np.int64)
    adj = deltas + 1
    adj[h] = deltas[h]
    csum = np.cumsum(adj)
    base = csum[h] - adj[h]
    pid = np.repeat(np.arange(nd), npos)
    pos = csum - base[pid]
    return docs, npos, pos
