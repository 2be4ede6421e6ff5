"""Posting decoders: explode compressed posting blocks (and positional
shards) back into (term, doc_id, tf) rows for relational query plans.
Index tables open through ``localread.LocalTable.frame``.

The decode is the inverse of build's encoder, one ``mapInArrow`` pass per
Arrow batch: every shard row of a batch decodes in ONE numpy call (the
reference decodes a whole Roaring container at a time, not one list at a
time). Term filters are applied BEFORE decode so Catalyst pushes them into
the parquet scan (file/row-group pruning on the range-sorted ``term``
column — the reference's chunk-routing binary search, wasm/chunks.c:56-72,
done by zone maps)."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import codec
from ..localread import LocalTable


def _flat(arr: pa.ListArray, dtype) -> np.ndarray:
    """A list column's values (a sliced array's own range)."""
    return arr.flatten().to_numpy(zero_copy_only=False).astype(dtype, copy=False)


def _binary(arr: pa.Array) -> tuple[pa.Buffer, np.ndarray]:
    """A binary column's bytes and its n_rows + 1 value offsets into them
    (a sliced array's own range)."""
    off = np.frombuffer(arr.buffers()[1], np.int64 if pa.types.is_large_binary(arr.type)
                        else np.int32)[arr.offset:arr.offset + len(arr) + 1].astype(np.int64)
    return arr.buffers()[2].slice(off[0], off[-1] - off[0]), off - off[0]


def _starts(lengths: np.ndarray) -> np.ndarray:
    """Where each segment of ``lengths`` starts (exclusive prefix sum)."""
    return np.cumsum(lengths) - lengths


def _postings_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """One ``codec.decode_all`` per batch over all its rows' blocks: each
    row's block_offset (n_blocks + 1 entries) is shifted by the row's
    payload base and its end entry dropped (the next row starts there)."""
    for b in (b for b in batches if b.num_rows):
        n_blk = np.diff(b.column("block_first_doc").offsets.to_numpy())
        payload, base = _binary(b.column("payload"))
        starts = np.delete(_flat(b.column("block_offset"), np.int64), np.cumsum(n_blk + 1) - 1)
        starts = np.append(starts + np.repeat(base[:-1], n_blk), base[-1])
        counts = _flat(b.column("block_count"), np.int32)
        docs, tfs = codec.decode_all(codec.PostingBlocks(
            first_doc=_flat(b.column("block_first_doc"), np.int64),
            max_doc=_flat(b.column("block_max_doc"), np.int64), counts=counts,
            offsets=starts, max_weight=np.zeros(counts.size, np.float32),
            kinds=_flat(b.column("block_kind"), np.uint8), payload=payload))
        # postings per row: the running count at each row's last block
        # (a shard row holds at least one posting, so at least one block)
        n_post = np.diff(np.cumsum(counts, dtype=np.int64)[np.cumsum(n_blk) - 1], prepend=0)
        term = b.column("term").take(np.repeat(np.arange(b.num_rows), n_post))
        yield pa.RecordBatch.from_arrays([term, pa.array(docs), pa.array(tfs)],
                                         ["term", "doc_id", "tf"])


def _positions_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """One output row per (term, doc) with its position array (0-based
    kept-token indexes). One varint pass over the batch's payload bytes;
    each row's values are its ``df`` doc gaps, ``df`` position counts, then
    the positions (the layout codec.decode_positions reads per row)."""
    for b in (b for b in batches if b.num_rows):
        data, base = _binary(b.column("payload"))
        buf = np.frombuffer(data, np.uint8)
        vals = codec.decode_varint(buf).astype(np.int64)
        v0 = np.searchsorted(np.flatnonzero(buf < 0x80), base[:-1])  # values before each row
        nd = b.column("df").to_numpy().astype(np.int64)
        row = np.repeat(np.arange(nd.size), nd)  # per doc
        gap_at = v0[row] + np.arange(row.size) - _starts(nd)[row]
        npos_at = gap_at + nd[row]
        gap1, npos = vals[gap_at] + 1, vals[npos_at] + 1
        csum = np.cumsum(gap1)
        docs = csum - (csum - gap1)[_starts(nd)][row] - 1
        h = _starts(npos)  # each doc's first position
        adj = np.delete(vals, np.concatenate([gap_at, npos_at])) + 1
        adj[h] -= 1
        psum = np.cumsum(adj)
        positions = pa.ListArray.from_arrays(
            pa.array(np.append(h, psum.size).astype(np.int32)),
            pa.array(psum - np.repeat((psum - adj)[h], npos)))
        yield pa.RecordBatch.from_arrays([b.column("term").take(row), pa.array(docs), positions],
                                         ["term", "doc_id", "positions"])


def decode_postings(pt: DataFrame) -> DataFrame:
    """(term, doc_id, tf) rows of a postings-shaped frame (postings or a
    bigram / overlong-trigram sidecar), decoded executor-side. Filter and
    repartition ``pt`` first; the column select happens here."""
    return pt.select("term", "block_first_doc", "block_max_doc", "block_count", "block_offset",
                     "block_kind", "payload").mapInArrow(_postings_batches,
                                                         "term string, doc_id long, tf long")


def decode_positions(pt: DataFrame) -> DataFrame:
    """(term, doc_id, positions array<long>) rows of a positional-sidecar
    frame, one per (term, doc). Filter and repartition ``pt`` first."""
    return pt.select("term", "df", "payload").mapInArrow(
        _positions_batches, "term string, doc_id long, positions array<long>")


def decoded_postings(spark: SparkSession, index_dir: str, terms: list[str] | None = None,
                     vocab: DataFrame | None = None,
                     broadcast_vocab: bool = True) -> DataFrame:
    """(term, doc_id, tf) rows. Pass ``terms`` (a small driver list) to prune
    the scan with a pushed In-filter, or ``vocab`` (a 1-column ``term``
    DataFrame of any cardinality) to prune with a broadcast semi-join — the
    relational route for cluster-sized query vocabularies where an In-list
    would explode the plan (plans/batch.py picks between them)."""
    pt = LocalTable([f"{index_dir}/postings"], spark).frame()
    if terms is not None:
        pt = pt.filter(F.col("term").isin(list(terms)))
    elif vocab is not None:
        # broadcast_vocab=False drops the hint for dictionary-scale
        # vocabularies (ADVICE r7): a forced broadcast has no size
        # fallback; AQE then picks a shuffle semi-join
        voc = vocab.select("term")
        pt = pt.join(F.broadcast(voc) if broadcast_vocab else voc, "term", "left_semi")
    return decode_postings(pt)
