"""Posting decoders: explode compressed posting blocks (and positional
shards) back into (term, doc_id, tf) rows for relational query plans.
Index tables open through ``localread.LocalTable.frame``.

The decode is the inverse of build's encoder — numpy varint/delta decode
inside mapInPandas, Arrow-batched. Term filters are applied BEFORE decode so
Catalyst pushes them into the parquet scan (file/row-group pruning on the
range-sorted ``term`` column — the reference's chunk-routing binary search,
wasm/chunks.c:56-72, done by zone maps)."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localread import LocalTable

DECODED_SCHEMA = "term string, doc_id long, tf long"


def _decode_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..codec import PostingBlocks, decode_all

    for pdf in batches:
        terms: list[str] = []
        docs: list[np.ndarray] = []
        tfs: list[np.ndarray] = []
        for term, fd, md, cnt, off, knd, payload in zip(
            pdf["term"], pdf["block_first_doc"], pdf["block_max_doc"], pdf["block_count"],
            pdf["block_offset"], pdf["block_kind"], pdf["payload"]
        ):
            pb = PostingBlocks(
                first_doc=np.asarray(fd, dtype=np.int64),
                max_doc=np.asarray(md, dtype=np.int64),
                counts=np.asarray(cnt, dtype=np.int32),
                offsets=np.asarray(off, dtype=np.int64),
                max_weight=np.zeros(len(md), dtype=np.float32),
                kinds=np.asarray(knd, dtype=np.uint8),
                payload=bytes(payload),
            )
            d, t = decode_all(pb)
            terms.append(term)
            docs.append(d)
            tfs.append(t)
        n = [len(d) for d in docs]
        yield pd.DataFrame(
            {
                "term": np.repeat(np.array(terms, dtype=object), n),
                "doc_id": np.concatenate(docs) if docs else np.empty(0, np.int64),
                "tf": np.concatenate(tfs) if tfs else np.empty(0, np.int64),
            }
        )


POS_DECODED_SCHEMA = "term string, doc_id long, positions array<long>"


def _decode_pos_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Positional-sidecar decode: one input row per (term, salt) shard →
    one output row per doc with its position array (0-based kept-token
    indexes). The per-shard decode is fully vectorized (decode_positions);
    the Python loop runs over shard rows only — the same granularity as
    _decode_rows."""
    from ..codec import decode_positions

    for pdf in batches:
        terms: list[str] = []
        docs: list[np.ndarray] = []
        plists: list[np.ndarray] = []
        for term, df_, payload in zip(pdf["term"], pdf["df"], pdf["payload"]):
            d, npos, pos = decode_positions(bytes(payload), int(df_))
            terms.append(term)
            docs.append(d)
            plists.extend(np.split(pos, np.cumsum(npos)[:-1]))
        n = [len(d) for d in docs]
        yield pd.DataFrame(
            {
                "term": np.repeat(np.array(terms, dtype=object), n),
                "doc_id": np.concatenate(docs) if docs else np.empty(0, np.int64),
                "positions": plists,
            }
        )


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
    cols = pt.select("term", "block_first_doc", "block_max_doc", "block_count", "block_offset", "block_kind", "payload")
    return cols.mapInPandas(_decode_rows, schema=DECODED_SCHEMA)
