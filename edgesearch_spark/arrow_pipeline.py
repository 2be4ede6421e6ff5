"""Arrow-native build pipeline (mapInArrow) — the zero-PyObject hot path.

A pandas-UDF pipeline materializes every term as a Python string twice
(Arrow→pandas on the tokenizer output and again on the encoder input):
~10^8 PyObject allocations per 10^6 docs, which saturates memory bandwidth
long before the CPU. ``mapInArrow`` hands us ``pyarrow.RecordBatch``es
instead:

  * tokenizer (``_tokens``; ``_tokenize_batch`` aggregates it to postings,
    positions index each row's run of it): content strings are the only
    per-doc PyObjects (regex needs them); ASCII rows tokenize entirely in
    C++ and terms stay dictionary codes;
  * encoders: numerics are zero-copy numpy views and only the ~n_groups
    head terms ever become Python strings.

Every posting-shaped table (postings, positions, the bigram and
overlong-trigram sidecars) crosses the shuffle as (bucket, blob) rows
written by ``_pack`` and parsed by ``_unpack``. Every posting table row
comes out of ``_emit_arrays``. Output is pinned against the JVM tokenizer
(``tokenizer.norm_tokens_col``) by tests/index_reference.py.
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from .codec import encode_postings_batch
from .tokenizer import MAX_TERM_BYTES

_TOKEN_PAT = re.compile(r"[a-zA-Z0-9]+")

# posting groups per emitted encoder batch
_GROUPS_PER_BATCH = 65536

POSTINGS_ARROW_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("salt", pa.int64()),
        ("df", pa.int64()),
        ("cf", pa.int64()),
        ("block_first_doc", pa.list_(pa.int64())),
        ("block_max_doc", pa.list_(pa.int64())),
        ("block_count", pa.list_(pa.int32())),
        ("block_offset", pa.list_(pa.int64())),
        ("block_max_weight", pa.list_(pa.float32())),
        ("block_kind", pa.list_(pa.int32())),
        ("block_max_tf", pa.list_(pa.int32())),
        ("payload", pa.binary()),
    ]
)


def _tokens(batch: pa.RecordBatch, doc_id_col: str, content_col: str,
            wmap: dict, prefix: str):
    """One batch of (doc_id, content) → (doc_rep, row, codes, uniques): one
    entry per KEPT token occurrence, in stream order — ``row`` is the
    occurrence's source row in the batch, so each row's tokens are one
    contiguous run. This is exactly explode(tokenizer.norm_tokens_col) in
    order. Returns None for an all-empty batch.

    ASCII rows (the overwhelming case for source code) take a fully C++
    path: utf8_lower → split_pattern_regex("[^a-z0-9]+") → list_flatten →
    dictionary_encode — per-token work never touches a PyObject. Non-ASCII
    or null rows fall back to a Python path (re.findall over str.lower),
    whose semantics the C++ path matches EXACTLY on ASCII (same character
    classes after lowering; UTF-8 length == byte length ⇔ pure ASCII).
    Tokens are ASCII on both paths, so the fallback's length cap is the
    octet-length cap of the JVM stream: a dropped token shifts every later
    position, so the drop rule must match it exactly."""
    import pandas as pd

    doc_ids = batch.column(batch.schema.get_field_index(doc_id_col)).to_numpy(zero_copy_only=False).astype(np.int64)
    carr = batch.column(batch.schema.get_field_index(content_col))
    ascii_np = np.asarray(
        pc.and_kleene(pc.equal(pc.binary_length(carr), pc.utf8_length(carr)),
                      pc.is_valid(carr)).to_numpy(zero_copy_only=False),
        dtype=bool,
    )

    # ---- C++ fast path over the ASCII rows ----
    if ascii_np.all():
        sel, rows_sel = carr, np.arange(len(doc_ids), dtype=np.int64)
    else:
        rows_sel = np.flatnonzero(ascii_np)
        sel = carr.take(pa.array(rows_sel))
    if len(sel):
        toks = pc.split_pattern_regex(pc.utf8_lower(sel), "[^a-z0-9]+")
        flat = pc.list_flatten(toks)
        parent = pc.list_parent_indices(toks).to_numpy(zero_copy_only=False).astype(np.int64)
        keep = pc.and_(pc.not_equal(flat, ""),
                       pc.less_equal(pc.binary_length(flat), MAX_TERM_BYTES))
        keep_np = np.asarray(keep.to_numpy(zero_copy_only=False), dtype=bool)
        denc = pc.dictionary_encode(flat.filter(keep))
        a_codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        a_uniques = np.asarray(denc.dictionary.to_pylist(), dtype=object)
        a_row = rows_sel[parent[keep_np]]
    else:
        a_codes, a_uniques, a_row = np.empty(0, np.int64), np.empty(0, object), np.empty(0, np.int64)

    # ---- exact Python fallback for non-ASCII / null rows ----
    if ascii_np.all():
        p_flat, p_row = np.empty(0, object), np.empty(0, np.int64)
    else:
        rows_py = np.flatnonzero(~ascii_np)
        tok_lists = [
            [t for t in _TOKEN_PAT.findall(c.lower()) if len(t) <= MAX_TERM_BYTES] if c else []
            for c in carr.take(pa.array(rows_py)).to_pylist()
        ]
        lens = np.fromiter((len(t) for t in tok_lists), np.int64, count=len(tok_lists))
        p_row = np.repeat(rows_py, lens)
        p_flat = (np.concatenate([np.asarray(t, dtype=object) for t in tok_lists if t])
                  if int(lens.sum()) else np.empty(0, object))

    if a_codes.size == 0 and p_flat.size == 0:
        return None
    if p_flat.size:
        # merge paths: re-factorize the union (rare — only unicode batches)
        all_terms = np.concatenate([a_uniques[a_codes], p_flat]) if a_codes.size else p_flat
        row = np.concatenate([a_row, p_row])
        codes, uniques = pd.factorize(all_terms, sort=False)
    else:
        codes, uniques, row = a_codes, a_uniques, a_row
    if wmap or prefix:
        # per-token rewrite at the UNIQUE level, re-factorized; order untouched
        s = pd.Series(np.asarray(uniques, dtype=object))
        if wmap:
            s = s.map(lambda t: wmap.get(t, t))
        if prefix:
            s = prefix + s
        recodes, uniques = pd.factorize(s, sort=False)
        codes = recodes[codes]
    return doc_ids[row], row, codes, uniques


def _tokenize_batch(batch: pa.RecordBatch, doc_id_col: str, content_col: str,
                    wmap: dict, prefix: str):
    """One batch of (doc_id, content) → (doc_out, code_out, tf, dl, uniques)
    — ``_tokens`` counted per (doc, term). Returns None for an all-empty
    batch."""
    got = _tokens(batch, doc_id_col, content_col, wmap, prefix)
    if got is None:
        return None
    doc_rep, _row, codes, uniques = got
    n_u = len(uniques)
    key = doc_rep * np.int64(n_u) + codes
    ukey, tf = np.unique(key, return_counts=True)
    doc_out = ukey // n_u
    code_out = (ukey % n_u).astype(np.int32)
    heads = np.flatnonzero(np.concatenate([[True], doc_out[1:] != doc_out[:-1]]))
    dlp = np.add.reduceat(tf, heads)
    dl = np.repeat(dlp, np.diff(np.concatenate([heads, [doc_out.size]])))
    return doc_out, code_out, tf, dl, uniques


def _emit_arrays(term_heads: pa.Array, docs_list, tfs_list, ws_list,
                 block_size: int, salt_shift: int) -> pa.RecordBatch:
    """Posting groups → one POSTINGS_ARROW_SCHEMA batch."""
    pbs = encode_postings_batch(docs_list, tfs_list, ws_list, block_size=block_size)
    n_groups = len(pbs)
    salts = np.fromiter((int(d[0]) >> salt_shift for d in docs_list), np.int64, count=n_groups)

    def list_arr(parts: list[np.ndarray], typ):
        offsets = np.zeros(n_groups + 1, dtype=np.int32)
        np.cumsum([len(p) for p in parts], out=offsets[1:])
        values = np.concatenate(parts) if parts else np.array([], dtype=typ)
        return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values.astype(typ)))

    return pa.RecordBatch.from_arrays(
        [
            term_heads.combine_chunks() if isinstance(term_heads, pa.ChunkedArray) else term_heads,
            pa.array(salts),
            pa.array(np.fromiter((d.size for d in docs_list), np.int64, count=n_groups)),
            pa.array(np.fromiter((int(t.sum()) for t in tfs_list), np.int64, count=n_groups)),
            list_arr([pb.first_doc for pb in pbs], np.int64),
            list_arr([pb.max_doc for pb in pbs], np.int64),
            list_arr([pb.counts for pb in pbs], np.int32),
            list_arr([pb.offsets for pb in pbs], np.int64),
            list_arr([pb.max_weight for pb in pbs], np.float32),
            list_arr([pb.kinds for pb in pbs], np.int32),
            list_arr([pb.max_tf for pb in pbs], np.int32),
            pa.array([pb.payload for pb in pbs], type=pa.binary()),
        ],
        schema=POSTINGS_ARROW_SCHEMA,
    )


# ---------------------------------------------------------------------------
# binary-blob shuffle (round-3 crossing optimization)
# ---------------------------------------------------------------------------
# Profiling (BENCH/BASELINE.md) showed the postings stage floor is the JVM→Python Arrow INPUT serialization of the
# post-shuffle rows (~8 µs/row of JVM CPU — 55% of the stage), not shuffle
# bytes and not encode compute; the positions stage, shipping one row per
# token occurrence, hit the same floor (OPTIMIZATION_r08.md). The blob
# shuffle removes that per-row conversion: the producer PRE-PACKS each
# (bucket = hash(term, salt) % n_buckets) group of a batch into ONE binary
# blob (numpy buffers + a per-blob term dictionary), the shuffle moves
# (bucket int, blob binary) rows — thousands of rows instead of tens of
# millions — and the encoder parses blobs with np.frombuffer, builds one
# term dictionary in C++, lexsorts in numpy and emits the groups (decoded
# and checked against the JVM tokenizer in tests/index_reference.py). The
# JVM never row-converts posting rows, and the JVM sort disappears.
#
# Blob layout (little-endian):
#   int64 n, k, dict_bytes_len
#   docs int64[n] | one array[n] per value column | codes int32[n]
#   dict_offsets int32[k+1] | dict utf8 bytes
# Value columns: (tf int32, w float32) for postings, (pos int32) for positions.
_GOLD = np.uint64(0x9E3779B97F4A7C15)

PACK_SCHEMA = "bucket int, blob binary"
_POSTING_VALUES = (np.int32, np.float32)
_POSITION_VALUES = (np.int32,)


def _pack(docs: np.ndarray, codes: np.ndarray, uniques, values, value_types,
          n_buckets: int, salt_shift: int) -> pa.RecordBatch:
    """One batch of (doc, term code, values...) rows → (bucket, blob) rows.

    Bucket = mix(crc32(term), salt) % n_buckets keeps every (term, salt)
    shard in one bucket (encoder correctness) while a hot term's salts
    spread across buckets (skew stays capped at one shard)."""
    for v, t in zip(values, value_types):
        if v.size and np.issubdtype(t, np.integer) and int(v.max()) > np.iinfo(t).max:
            raise ValueError(f"value exceeds {np.dtype(t)} — the pack blob layout caps it")
    enc = [u.encode("utf-8") for u in uniques]
    uh = np.fromiter((zlib.crc32(e) for e in enc), np.uint64, count=len(enc))
    salts = (docs >> salt_shift).astype(np.uint64)
    bucket = ((uh[codes] * _GOLD) + salts) % np.uint64(n_buckets)
    order = np.argsort(bucket, kind="stable")
    b_sorted = bucket[order]
    heads = np.flatnonzero(np.concatenate([[True], b_sorted[1:] != b_sorted[:-1]]))
    bounds = np.concatenate([heads, [b_sorted.size]])
    docs_s, code_s = docs[order], codes[order]
    vals_s = [v[order] for v in values]
    out_buckets: list[int] = []
    out_blobs: list[bytes] = []
    for i in range(heads.size):
        sl = slice(int(bounds[i]), int(bounds[i + 1]))
        lu, lcodes = np.unique(code_s[sl], return_inverse=True)
        dict_bts = [enc[int(c)] for c in lu]
        offs = np.zeros(len(dict_bts) + 1, np.int32)
        np.cumsum([len(x) for x in dict_bts], out=offs[1:])
        dbytes = b"".join(dict_bts)
        header = np.array([sl.stop - sl.start, len(dict_bts), len(dbytes)], np.int64)
        out_blobs.append(b"".join([
            header.tobytes(),
            np.ascontiguousarray(docs_s[sl], np.int64).tobytes(),
            *(np.ascontiguousarray(v[sl], t).tobytes() for v, t in zip(vals_s, value_types)),
            lcodes.astype(np.int32).tobytes(),
            offs.tobytes(),
            dbytes,
        ]))
        out_buckets.append(int(b_sorted[int(bounds[i])]))
    return pa.RecordBatch.from_arrays(
        [pa.array(np.array(out_buckets, np.int32)), pa.array(out_blobs, type=pa.binary())],
        names=["bucket", "blob"],
    )


def _unpack(batches: Iterator[pa.RecordBatch], value_types):
    """A partition's blobs → (terms, codes, docs, values): ONE term
    dictionary for the partition (C++ dictionary_encode over the blob
    dictionaries), every row's code into it, and the concatenated docs and
    value columns (zero-copy np.frombuffer views per blob). Returns None
    for an empty partition."""
    docs_l: list[np.ndarray] = []
    vals_l: list[list[np.ndarray]] = [[] for _ in value_types]
    codes_l: list[np.ndarray] = []
    dict_chunks: list[pa.Array] = []
    ks: list[int] = []
    for batch in batches:
        for bl in batch.column(batch.schema.get_field_index("blob")).to_pylist():
            n, k, dblen = (int(x) for x in np.frombuffer(bl, np.int64, 3))
            off = 24
            docs_l.append(np.frombuffer(bl, np.int64, n, off)); off += 8 * n
            for vl, t in zip(vals_l, value_types):
                vl.append(np.frombuffer(bl, t, n, off)); off += np.dtype(t).itemsize * n
            codes_l.append(np.frombuffer(bl, np.int32, n, off)); off += 4 * n
            offs = np.frombuffer(bl, np.int32, k + 1, off); off += 4 * (k + 1)
            dbytes = np.frombuffer(bl, np.uint8, dblen, off)
            dict_chunks.append(pa.StringArray.from_buffers(
                k, pa.py_buffer(offs.tobytes()), pa.py_buffer(dbytes.tobytes())))
            ks.append(k)
    if not docs_l:
        return None
    denc = pc.dictionary_encode(pa.chunked_array(dict_chunks).combine_chunks())
    gidx = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    base = np.concatenate([[0], np.cumsum(ks)[:-1]]).astype(np.int64)
    gcodes = np.concatenate([gidx[b + c] for b, c in zip(base, codes_l)])
    return denc.dictionary, gcodes, np.concatenate(docs_l), [np.concatenate(v) for v in vals_l]


def _map_pack(df: DataFrame, rows_of, value_types, n_buckets: int,
              salt_shift: int) -> DataFrame:
    """mapInArrow: each input batch → ``rows_of(batch)`` = (docs, codes,
    uniques, values) or None → one (bucket, blob) batch."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            got = rows_of(batch)
            if got is not None:
                yield _pack(*got, value_types, n_buckets, salt_shift)

    return df.mapInArrow(run, schema=PACK_SCHEMA)


def tokenize_pack_arrow(
    df: DataFrame,
    doc_id_col: str,
    content_col: str,
    *,
    n_buckets: int,
    salt_shift: int,
    k1: float,
    b: float,
    avgdl: float,
    word_map: dict[str, str] | None = None,
    field_prefix: str | None = None,
) -> DataFrame:
    """(doc_id, content) → (bucket, blob): tokenize + tf-weight + pack.

    The BM25 tf-weight w = tf / (tf + k1·((1−b) + (b·dl)/avgdl)) is
    computed here in numpy in float64 and stored as float32."""
    wmap = dict(word_map or {})
    prefix = f"{field_prefix}_" if field_prefix else ""

    def rows_of(batch):
        got = _tokenize_batch(batch, doc_id_col, content_col, wmap, prefix)
        if got is None:
            return None
        doc_out, code_out, tf, dl, uniques = got
        tf64 = tf.astype(np.float64)
        dl64 = dl.astype(np.float64)
        w = (tf64 / (tf64 + k1 * ((1.0 - b) + (b * dl64) / avgdl))).astype(np.float32)
        return doc_out, code_out, uniques, (tf, w)

    return _map_pack(df.select(doc_id_col, content_col), rows_of, _POSTING_VALUES,
                     n_buckets, salt_shift)


def tokenize_pos_pack_arrow(
    df: DataFrame,
    doc_id_col: str,
    content_col: str,
    *,
    n_buckets: int,
    salt_shift: int,
    word_map: dict[str, str] | None = None,
    field_prefix: str | None = None,
) -> DataFrame:
    """(doc_id, content) → (bucket, blob): tokenize WITH positions + pack.
    ``pos`` is the occurrence's 0-based index into its doc's kept-token
    stream — exactly posexplode(tokenizer.norm_tokens_col)."""
    wmap = dict(word_map or {})
    prefix = f"{field_prefix}_" if field_prefix else ""

    def rows_of(batch):
        got = _tokens(batch, doc_id_col, content_col, wmap, prefix)
        if got is None:
            return None
        doc_rep, row, codes, uniques = got
        heads = np.flatnonzero(np.concatenate([[True], row[1:] != row[:-1]]))
        pos = np.arange(row.size, dtype=np.int64) - np.repeat(heads, np.diff(np.append(heads, row.size)))
        return doc_rep, codes, uniques, (pos,)

    return _map_pack(df.select(doc_id_col, content_col), rows_of, _POSITION_VALUES,
                     n_buckets, salt_shift)


def pack_postings_arrow(rows_df: DataFrame, *, n_buckets: int, salt_shift: int) -> DataFrame:
    """(term, doc_id, tf) rows, one per (term, doc) → (bucket, blob) with
    w = 0: the sidecars (bigrams, overlong trigrams) through the postings
    blob shuffle and ``make_pack_encoder``."""

    def rows_of(batch):
        if not batch.num_rows:
            return None
        denc = pc.dictionary_encode(batch.column(0))
        docs = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
        tf = batch.column(2).to_numpy(zero_copy_only=False).astype(np.int64)
        codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        return docs, codes, denc.dictionary.to_pylist(), (tf, np.zeros(tf.size, np.float32))

    return _map_pack(rows_df.select("term", "doc_id", "tf"), rows_of, _POSTING_VALUES,
                     n_buckets, salt_shift)


POSITIONS_ARROW_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("salt", pa.int64()),
        ("df", pa.int64()),
        ("payload", pa.binary()),
    ]
)


def make_pos_pack_encoder(salt_shift: int):
    """mapInArrow over the bucket-partitioned position blobs: ``_unpack``,
    lexsort (term code, doc_id, pos), split groups on (code, salt) change,
    encode each group's positional payload with the standard codec
    (encode_positions_groups)."""
    from .codec import encode_positions_groups

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        got = _unpack(batches, _POSITION_VALUES)
        if got is None:
            return
        gterms, gcodes, docs, (pos,) = got
        pos = pos.astype(np.int64)
        order = np.lexsort((pos, docs, gcodes))
        docs, pos, gcodes = docs[order], pos[order], gcodes[order]
        salts = docs >> salt_shift
        chg = np.flatnonzero((gcodes[1:] != gcodes[:-1]) | (salts[1:] != salts[:-1])) + 1
        heads = np.concatenate([[0], chg]).astype(np.int64)
        n_rows = docs.size
        for lo in range(0, heads.size, _GROUPS_PER_BATCH):
            hi = min(lo + _GROUPS_PER_BATCH, heads.size)
            row_lo = int(heads[lo])
            row_hi = int(heads[hi]) if hi < heads.size else n_rows
            payloads, nd = encode_positions_groups(
                docs[row_lo:row_hi], pos[row_lo:row_hi], heads[lo:hi] - row_lo)
            yield pa.RecordBatch.from_arrays(
                [
                    gterms.take(pa.array(gcodes[heads[lo:hi]])),
                    pa.array(salts[heads[lo:hi]]),
                    pa.array(np.asarray(nd, np.int64)),
                    pa.array(payloads, type=pa.binary()),
                ],
                schema=POSITIONS_ARROW_SCHEMA,
            )

    return encode


def make_pack_encoder(block_size: int, salt_shift: int):
    """mapInArrow over the bucket-partitioned posting blobs: ``_unpack``,
    lexsort (doc_id within term code), split groups on (code, salt) change,
    and emit the standard postings batches.

    Holds one partition's posting rows in memory (~24 B/posting); the
    partition count bounds that."""

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        got = _unpack(batches, _POSTING_VALUES)
        if got is None:
            return
        gterms, gcodes, docs, (tfs, ws) = got
        tfs = tfs.astype(np.int64)
        order = np.lexsort((docs, gcodes))
        docs, tfs, ws, gcodes = docs[order], tfs[order], ws[order], gcodes[order]
        salts = docs >> salt_shift
        chg = np.flatnonzero((gcodes[1:] != gcodes[:-1]) | (salts[1:] != salts[:-1])) + 1
        heads = np.concatenate([[0], chg]).astype(np.int64)
        docs_list = np.split(docs, chg)
        tfs_list = np.split(tfs, chg)
        ws_list = np.split(ws, chg)
        for lo in range(0, len(docs_list), _GROUPS_PER_BATCH):
            hi = min(lo + _GROUPS_PER_BATCH, len(docs_list))
            term_heads = gterms.take(pa.array(gcodes[heads[lo:hi]]))
            yield _emit_arrays(term_heads, docs_list[lo:hi], tfs_list[lo:hi],
                               ws_list[lo:hi], block_size, salt_shift)

    return encode
