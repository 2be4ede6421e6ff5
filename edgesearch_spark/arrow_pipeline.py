"""Arrow-native build pipeline (mapInArrow) — the zero-PyObject hot path.

A pandas-UDF pipeline materializes every term as a Python string twice
(Arrow→pandas on the tokenizer output and again on the encoder input):
~10^8 PyObject allocations per 10^6 docs, which saturates memory bandwidth
long before the CPU. ``mapInArrow`` hands us ``pyarrow.RecordBatch``es
instead:

  * tokenizers (``_tokenize_batch``, ``_tokenize_positions_batch``):
    content strings are the only per-doc PyObjects (regex needs them);
    ASCII rows tokenize entirely in C++ and terms stay dictionary codes;
  * encoders: numerics are zero-copy numpy views and only the ~n_groups
    head terms ever become Python strings.

The postings and positions stages use the blob-shuffle ('pack') tokenizer
and encoder pairs below; the bigram and overlong-trigram sidecars feed a
flat, sorted posting stream to ``make_stream_encoder_arrow``. Every posting
table row comes out of ``_emit_arrays``. Output is pinned against the JVM
tokenizer (``tokenizer.norm_tokens_col``) by tests/index_reference.py.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from .codec import encode_postings_batch
from .tokenizer import MAX_TERM_BYTES

_TOKEN_PAT = re.compile(r"[a-zA-Z0-9]+")

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


def _tokenize_batch(batch: pa.RecordBatch, doc_id_col: str, content_col: str,
                    wmap: dict, prefix: str):
    """One batch of (doc_id, content) → (doc_out, code_out, tf, dl, uniques)
    — the tokenize core of the postings path. Returns None for an all-empty
    batch.

    ASCII rows (the overwhelming case for source code) take a fully C++
    path: utf8_lower → split_pattern_regex("[^a-z0-9]+") → list_flatten →
    dictionary_encode — per-token work never touches a PyObject. Non-ASCII
    or null rows fall back to the original Python path (re.findall over
    str.lower), whose semantics the C++ path matches EXACTLY on ASCII
    (same character classes after lowering; UTF-8 length == byte length ⇔
    pure ASCII), so output is identical to the JVM tokenizer either way
    (tested against norm_tokens_col on a mixed ascii/unicode/null batch)."""
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
        sel, docs_sel = carr, doc_ids
    else:
        sel = carr.take(pa.array(np.flatnonzero(ascii_np)))
        docs_sel = doc_ids[ascii_np]
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
        a_docrep = docs_sel[parent[keep_np]]
    else:
        a_codes, a_uniques, a_docrep = np.empty(0, np.int64), np.empty(0, object), np.empty(0, np.int64)

    # ---- exact Python fallback for non-ASCII / null rows ----
    if ascii_np.all():
        p_flat, p_docrep = np.empty(0, object), np.empty(0, np.int64)
    else:
        py_contents = carr.take(pa.array(np.flatnonzero(~ascii_np))).to_pylist()
        py_docs = doc_ids[~ascii_np]
        tok_lists = [_TOKEN_PAT.findall(c.lower()) if c else [] for c in py_contents]
        lens = np.fromiter((len(t) for t in tok_lists), np.int64, count=len(tok_lists))
        p_docrep = np.repeat(py_docs, lens)
        if int(lens.sum()):
            p_flat = np.concatenate([np.asarray(t, dtype=object) for t in tok_lists if t])
            plen = np.fromiter((len(t) for t in p_flat), np.int64, count=len(p_flat))
            ok = plen <= MAX_TERM_BYTES  # original rule: character length cap
            p_flat, p_docrep = p_flat[ok], p_docrep[ok]
        else:
            p_flat = np.empty(0, object)

    if a_codes.size == 0 and p_flat.size == 0:
        return None
    if p_flat.size:
        # merge paths: re-factorize the union (rare — only unicode batches)
        all_terms = np.concatenate([a_uniques[a_codes], p_flat]) if a_codes.size else p_flat
        doc_rep = np.concatenate([a_docrep, p_docrep])
        codes, uniques = pd.factorize(all_terms, sort=False)
    else:
        codes, uniques, doc_rep = a_codes, a_uniques, a_docrep
    if wmap or prefix:
        s = pd.Series(np.asarray(uniques, dtype=object))
        if wmap:
            s = s.map(lambda t: wmap.get(t, t))
        if prefix:
            s = prefix + s
        recodes, uniques = pd.factorize(s, sort=False)
        codes = recodes[codes]
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
    """Posting groups → one POSTINGS_ARROW_SCHEMA batch (shared by the
    flat-stream encoder and the pack encoder)."""
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


def make_stream_encoder_arrow(block_size: int, salt_shift: int = 16):
    """mapInArrow over a (term, doc-range)-partitioned, (term, doc_id)-
    sorted flat posting stream of (term, doc_id, tf, w) rows — the encoder
    of the bigram and overlong-trigram sidecars. The salt column never
    travels through the shuffle — it is a pure function of doc_id (salt =
    doc_id >> salt_shift, monotone in doc_id, so sorting by (term, doc_id)
    already yields (term, salt, doc_id) order) and is recomputed here in
    numpy. Cross-batch carry is an Arrow Table slice (no PyObjects)."""

    def _emit(tbl: pa.Table, bounds: np.ndarray) -> pa.RecordBatch:
        docs = tbl.column("doc_id").to_numpy().astype(np.int64, copy=False)
        tfs = tbl.column("tf").to_numpy().astype(np.int64, copy=False)
        ws = tbl.column("w").to_numpy().astype(np.float32, copy=False)
        heads = np.concatenate([[0], bounds]).astype(np.int64)
        term_heads = tbl.column("term").take(pa.array(heads))  # C++ gather, n_groups strings
        return _emit_arrays(
            term_heads, np.split(docs, bounds), np.split(tfs, bounds), np.split(ws, bounds),
            block_size, salt_shift,
        )

    def _changes(tbl: pa.Table) -> np.ndarray:
        """Indices where (term, salt) differs from the previous row — term
        compare in C++, salt derived from doc_id in numpy."""
        n = tbl.num_rows
        if n <= 1:
            return np.empty(0, np.int64)
        term = tbl.column("term").combine_chunks()
        tchg = pc.not_equal(term.slice(1), term.slice(0, n - 1)).to_numpy(zero_copy_only=False)
        salts = tbl.column("doc_id").to_numpy().astype(np.int64, copy=False) >> salt_shift
        mask = tchg | (salts[1:] != salts[:-1])
        return np.flatnonzero(mask) + 1

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        carry: pa.Table | None = None
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if carry is not None:
                tbl = pa.concat_tables([carry, tbl]).combine_chunks()
            chg = _changes(tbl)
            if chg.size == 0:
                carry = tbl
                continue
            last_head = int(chg[-1])
            carry = tbl.slice(last_head)
            yield _emit(tbl.slice(0, last_head), chg[:-1])
        if carry is not None and carry.num_rows:
            yield _emit(carry, _changes(carry))

    return encode


# ---------------------------------------------------------------------------
# 'pack' postings path: binary-blob shuffle (round-3 crossing optimization)
# ---------------------------------------------------------------------------
# Profiling (BENCH/BASELINE.md) showed the postings stage floor is the JVM→Python Arrow INPUT serialization of the
# post-shuffle rows (~8 µs/row of JVM CPU — 55% of the stage), not shuffle
# bytes and not encode compute. This path removes that per-row conversion:
# the tokenizer PRE-PACKS each (bucket = hash(term, salt) % n_buckets)
# group of a batch into ONE binary blob (numpy buffers + a per-blob term
# dictionary), the shuffle moves (bucket int, blob binary) rows — thousands
# of rows instead of tens of millions — and the encoder parses blobs with
# np.frombuffer, groups via a C++ dictionary_encode + numpy lexsort, and
# emits the posting groups (decoded and checked against the JVM tokenizer in
# tests/index_reference.py). The JVM never row-converts posting rows,
# and the JVM sort disappears (the encoder sorts each partition in numpy).
#
# Blob layout (little-endian):
#   int64 n, k, dict_bytes_len
#   docs int64[n] | tf int32[n] | w float32[n] | codes int32[n]
#   dict_offsets int32[k+1] | dict utf8 bytes
_GOLD = np.uint64(0x9E3779B97F4A7C15)

PACK_SCHEMA = "bucket int, blob binary"


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
    computed here in numpy in float64 and stored as float32.
    Bucket = mix(crc32(term), salt) % n_buckets keeps every (term, salt)
    shard in one bucket (encoder correctness) while a hot term's salts
    spread across buckets (skew stays capped at 2^salt_shift postings)."""
    wmap = dict(word_map or {})
    prefix = f"{field_prefix}_" if field_prefix else ""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import zlib

        for batch in batches:
            got = _tokenize_batch(batch, doc_id_col, content_col, wmap, prefix)
            if got is None:
                continue
            doc_out, code_out, tf, dl, uniques = got
            if tf.size and int(tf.max()) >= 2**31:
                raise ValueError("tf exceeds int32 — pack blob layout assumes tf < 2^31")
            tf64 = tf.astype(np.float64)
            dl64 = dl.astype(np.float64)
            w = (tf64 / (tf64 + k1 * ((1.0 - b) + (b * dl64) / avgdl))).astype(np.float32)
            enc = [u.encode("utf-8") for u in uniques]
            uh = np.fromiter((zlib.crc32(e) for e in enc), np.uint64, count=len(enc))
            salts = (doc_out >> salt_shift).astype(np.uint64)
            bucket = ((uh[code_out] * _GOLD) + salts) % np.uint64(n_buckets)
            order = np.argsort(bucket, kind="stable")
            b_sorted = bucket[order]
            heads = np.flatnonzero(np.concatenate([[True], b_sorted[1:] != b_sorted[:-1]]))
            bounds = np.concatenate([heads, [b_sorted.size]])
            docs_s, tf_s, w_s, code_s = doc_out[order], tf[order], w[order], code_out[order]
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
                    np.ascontiguousarray(tf_s[sl], np.int32).tobytes(),
                    np.ascontiguousarray(w_s[sl], np.float32).tobytes(),
                    lcodes.astype(np.int32).tobytes(),
                    offs.tobytes(),
                    dbytes,
                ]))
                out_buckets.append(int(b_sorted[int(bounds[i])]))
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.array(out_buckets, np.int32)), pa.array(out_blobs, type=pa.binary())],
                names=["bucket", "blob"],
            )

    return df.select(doc_id_col, content_col).mapInArrow(run, schema=PACK_SCHEMA)


# ---------------------------------------------------------------------------
# 'pack' positions path: the same binary-blob shuffle for the positional
# sidecar (round-8 optimization; VERDICT r7 #1)
# ---------------------------------------------------------------------------
# The positions stage shipped ~60M (term, doc_id, pos) rows through the
# JVM→Python Arrow crossing — the exact per-row conversion floor the
# postings stage removed two rounds ago (measured: positions stage 104-148 s
# vs postings 13-30 s on the same corpus). This path reuses the pack
# discipline: the tokenizer emits each (bucket = mix(crc32(term), salt))
# group of a batch as ONE binary blob, the shuffle moves (bucket, blob)
# rows, and the encoder parses with np.frombuffer, builds a global term
# dictionary in C++, lexsorts (term, doc, pos) in numpy and emits one
# position payload per (term, salt) (decoded and checked against the JVM
# posexplode stream in tests/test_positions.py).
#
# Blob layout (little-endian):
#   int64 n, k, dict_bytes_len
#   docs int64[n] | pos int32[n] | codes int32[n]
#   dict_offsets int32[k+1] | dict utf8 bytes


def _tokenize_positions_batch(batch: pa.RecordBatch, doc_id_col: str,
                              content_col: str, wmap: dict, prefix: str):
    """One batch of (doc_id, content) → (doc_rep, pos, codes, uniques): one
    row per KEPT token occurrence in stream order, ``pos`` its 0-based index
    into the doc's drop-filtered token stream — exactly
    posexplode(tokenizer.norm_tokens_col). Returns None for an all-empty
    batch.

    Same ASCII C++ fast path / Python fallback split as _tokenize_batch;
    the fallback applies the BYTE-length cap (octet_length — the JVM
    norm_tokens_col rule) because a dropped token shifts every later
    position, so the drop rule must match the JVM stream exactly."""
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
        sel, docs_sel = carr, doc_ids
    else:
        sel = carr.take(pa.array(np.flatnonzero(ascii_np)))
        docs_sel = doc_ids[ascii_np]
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
        kept_parent = parent[keep_np]
        # pos = index among the doc's kept tokens (stream order preserved)
        heads = np.flatnonzero(np.concatenate(
            [[True], kept_parent[1:] != kept_parent[:-1]]))
        seg_len = np.diff(np.append(heads, kept_parent.size))
        a_pos = np.arange(kept_parent.size, dtype=np.int64) - np.repeat(heads, seg_len)
        a_docrep = docs_sel[kept_parent]
    else:
        a_codes = np.empty(0, np.int64)
        a_uniques = np.empty(0, object)
        a_docrep = np.empty(0, np.int64)
        a_pos = np.empty(0, np.int64)

    # ---- exact Python fallback for non-ASCII / null rows ----
    if ascii_np.all():
        p_flat, p_docrep, p_pos = np.empty(0, object), np.empty(0, np.int64), np.empty(0, np.int64)
    else:
        py_contents = carr.take(pa.array(np.flatnonzero(~ascii_np))).to_pylist()
        py_docs = doc_ids[~ascii_np]
        tok_lists = [
            [t for t in _TOKEN_PAT.findall(c.lower())
             if len(t.encode("utf-8")) <= MAX_TERM_BYTES] if c else []
            for c in py_contents
        ]
        lens = np.fromiter((len(t) for t in tok_lists), np.int64, count=len(tok_lists))
        p_docrep = np.repeat(py_docs, lens)
        p_pos = (np.arange(int(lens.sum()), dtype=np.int64)
                 - np.repeat(np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64), lens))
        p_flat = (np.concatenate([np.asarray(t, dtype=object) for t in tok_lists if t])
                  if int(lens.sum()) else np.empty(0, object))

    if a_codes.size == 0 and p_flat.size == 0:
        return None
    if p_flat.size:
        all_terms = np.concatenate([a_uniques[a_codes], p_flat]) if a_codes.size else p_flat
        doc_rep = np.concatenate([a_docrep, p_docrep])
        pos = np.concatenate([a_pos, p_pos])
        codes, uniques = pd.factorize(all_terms, sort=False)
        codes = codes.astype(np.int64)
        uniques = np.asarray(uniques, dtype=object)
    else:
        codes, uniques, doc_rep, pos = a_codes, a_uniques, a_docrep, a_pos
    if wmap or prefix:
        # position-preserving per-token rewrite (norm_tokens_col semantics):
        # remap at the UNIQUE level, re-factorize, positions untouched
        s = pd.Series(np.asarray(uniques, dtype=object))
        if wmap:
            s = s.map(lambda t: wmap.get(t, t))
        if prefix:
            s = prefix + s
        recodes, uniques = pd.factorize(s, sort=False)
        uniques = np.asarray(uniques, dtype=object)
        codes = recodes[codes]
    return doc_rep, pos, codes, uniques


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

    Bucket = mix(crc32(term), salt) % n_buckets — identical mixing to the
    postings pack path, so every (term, salt) shard lands in one bucket
    (encoder correctness) while a hot term's salts spread (skew capped at
    one shard's positions)."""
    wmap = dict(word_map or {})
    prefix = f"{field_prefix}_" if field_prefix else ""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import zlib

        for batch in batches:
            got = _tokenize_positions_batch(batch, doc_id_col, content_col, wmap, prefix)
            if got is None:
                continue
            doc_rep, pos, codes, uniques = got
            if pos.size and int(pos.max()) >= 2**31:
                raise ValueError("position exceeds int32 — pos pack blob layout assumes pos < 2^31")
            enc = [u.encode("utf-8") for u in uniques]
            uh = np.fromiter((zlib.crc32(e) for e in enc), np.uint64, count=len(enc))
            salts = (doc_rep >> salt_shift).astype(np.uint64)
            bucket = ((uh[codes] * _GOLD) + salts) % np.uint64(n_buckets)
            order = np.argsort(bucket, kind="stable")
            b_sorted = bucket[order]
            heads = np.flatnonzero(np.concatenate([[True], b_sorted[1:] != b_sorted[:-1]]))
            bounds = np.concatenate([heads, [b_sorted.size]])
            docs_s, pos_s, code_s = doc_rep[order], pos[order], codes[order]
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
                    np.ascontiguousarray(pos_s[sl], np.int32).tobytes(),
                    lcodes.astype(np.int32).tobytes(),
                    offs.tobytes(),
                    dbytes,
                ]))
                out_buckets.append(int(b_sorted[int(bounds[i])]))
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.array(out_buckets, np.int32)), pa.array(out_blobs, type=pa.binary())],
                names=["bucket", "blob"],
            )

    return df.select(doc_id_col, content_col).mapInArrow(run, schema=PACK_SCHEMA)


POSITIONS_ARROW_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("salt", pa.int64()),
        ("df", pa.int64()),
        ("payload", pa.binary()),
    ]
)


def make_pos_pack_encoder(salt_shift: int = 16, groups_per_batch: int = 65536):
    """mapInArrow over the bucket-partitioned position blobs: parse
    (np.frombuffer, zero-copy), ONE global term dictionary via C++
    dictionary_encode, lexsort (term code, doc_id, pos), split groups on
    (code, salt) change, encode each group's positional payload with the
    standard codec (encode_positions_groups)."""
    from .codec import encode_positions_groups

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        docs_l: list[np.ndarray] = []
        pos_l: list[np.ndarray] = []
        codes_l: list[np.ndarray] = []
        dict_chunks: list[pa.Array] = []
        ks: list[int] = []
        for batch in batches:
            for bl in batch.column(batch.schema.get_field_index("blob")).to_pylist():
                n, k, dblen = (int(x) for x in np.frombuffer(bl, np.int64, 3))
                off = 24
                docs_l.append(np.frombuffer(bl, np.int64, n, off)); off += 8 * n
                pos_l.append(np.frombuffer(bl, np.int32, n, off)); off += 4 * n
                codes_l.append(np.frombuffer(bl, np.int32, n, off)); off += 4 * n
                offs = np.frombuffer(bl, np.int32, k + 1, off); off += 4 * (k + 1)
                dbytes = np.frombuffer(bl, np.uint8, dblen, off)
                dict_chunks.append(pa.StringArray.from_buffers(
                    k, pa.py_buffer(offs.tobytes()), pa.py_buffer(dbytes.tobytes())))
                ks.append(k)
        if not docs_l:
            return
        denc = pc.dictionary_encode(pa.chunked_array(dict_chunks).combine_chunks())
        gidx = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        gterms = denc.dictionary
        base = np.concatenate([[0], np.cumsum(ks)[:-1]]).astype(np.int64)
        gcodes = np.concatenate([gidx[b + c] for b, c in zip(base, codes_l)])
        docs = np.concatenate(docs_l)
        pos = np.concatenate(pos_l).astype(np.int64)
        order = np.lexsort((pos, docs, gcodes))
        docs, pos, gcodes = docs[order], pos[order], gcodes[order]
        salts = docs >> salt_shift
        chg = np.flatnonzero((gcodes[1:] != gcodes[:-1]) | (salts[1:] != salts[:-1])) + 1
        heads = np.concatenate([[0], chg]).astype(np.int64)
        n_rows = docs.size
        for lo in range(0, heads.size, groups_per_batch):
            hi = min(lo + groups_per_batch, heads.size)
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


def make_pack_encoder(block_size: int, salt_shift: int = 16, groups_per_batch: int = 65536):
    """mapInArrow over the bucket-partitioned blobs: parse (np.frombuffer,
    zero-copy), build ONE global term dictionary for the partition via C++
    dictionary_encode, lexsort (doc_id within term code), split groups on
    (code, salt) change, and emit the standard postings batches.

    Holds one partition's posting rows in memory (~24 B/posting); the
    partition count bounds that."""

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        docs_l: list[np.ndarray] = []
        tf_l: list[np.ndarray] = []
        w_l: list[np.ndarray] = []
        codes_l: list[np.ndarray] = []
        dict_chunks: list[pa.Array] = []
        ks: list[int] = []
        for batch in batches:
            for bl in batch.column(batch.schema.get_field_index("blob")).to_pylist():
                n, k, dblen = (int(x) for x in np.frombuffer(bl, np.int64, 3))
                off = 24
                docs_l.append(np.frombuffer(bl, np.int64, n, off)); off += 8 * n
                tf_l.append(np.frombuffer(bl, np.int32, n, off)); off += 4 * n
                w_l.append(np.frombuffer(bl, np.float32, n, off)); off += 4 * n
                codes_l.append(np.frombuffer(bl, np.int32, n, off)); off += 4 * n
                offs = np.frombuffer(bl, np.int32, k + 1, off); off += 4 * (k + 1)
                dbytes = np.frombuffer(bl, np.uint8, dblen, off)
                dict_chunks.append(pa.StringArray.from_buffers(
                    k, pa.py_buffer(offs.tobytes()), pa.py_buffer(dbytes.tobytes())))
                ks.append(k)
        if not docs_l:
            return
        denc = pc.dictionary_encode(pa.chunked_array(dict_chunks).combine_chunks())
        gidx = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        gterms = denc.dictionary
        base = np.concatenate([[0], np.cumsum(ks)[:-1]]).astype(np.int64)
        gcodes = np.concatenate([gidx[b + c] for b, c in zip(base, codes_l)])
        docs = np.concatenate(docs_l)
        tfs = np.concatenate(tf_l).astype(np.int64)
        ws = np.concatenate(w_l)
        order = np.lexsort((docs, gcodes))
        docs, tfs, ws, gcodes = docs[order], tfs[order], ws[order], gcodes[order]
        salts = docs >> salt_shift
        chg = np.flatnonzero((gcodes[1:] != gcodes[:-1]) | (salts[1:] != salts[:-1])) + 1
        heads = np.concatenate([[0], chg]).astype(np.int64)
        docs_list = np.split(docs, chg)
        tfs_list = np.split(tfs, chg)
        ws_list = np.split(ws, chg)
        for lo in range(0, len(docs_list), groups_per_batch):
            hi = min(lo + groups_per_batch, len(docs_list))
            term_heads = gterms.take(pa.array(gcodes[heads[lo:hi]]))
            yield _emit_arrays(term_heads, docs_list[lo:hi], tfs_list[lo:hi],
                               ws_list[lo:hi], block_size, salt_shift)

    return encode
