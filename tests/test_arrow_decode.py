"""The per-batch Arrow decoders (``sources.postings``) against the per-row
codec decode that ``index_reference`` uses: the same (term, doc_id, tf)
and (term, doc_id, positions) rows, in the same order, over a built index
whose blocks cover every container kind, whose terms span several salt
shards, and over batches that are sliced or decode to nothing."""

import glob

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from edgesearch_spark.codec import (DOC_BITSET, DOC_RUN, DOC_VARINT, KIND_CONST_TF, KIND_DOC_MASK,
                                    PostingBlocks, decode_all, decode_positions)
from edgesearch_spark.sources.postings import _positions_batches, _postings_batches

N_DOCS = 120


def _content(d: int) -> str:
    toks = ["runterm"]  # every doc, tf 1: run blocks, constant tf
    if d % 3:
        toks.append("dense")  # 2 of 3 docs: bitset blocks
    if d % 7 == 0:
        toks += ["sparse"] * (d % 3 + 1)  # every 7th doc, varying tf: varint blocks
    toks += ["mixtf"] * (d % 2 + 1)  # every doc, tf 1 or 2: run blocks, varint tf
    toks.append(f"only{d}")  # one-posting terms
    return " ".join(toks)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    from edgesearch_spark.build import IndexConfig, build_index

    out = str(tmp_path_factory.mktemp("arrowdecode"))
    docs = spark.createDataFrame([(d, _content(d)) for d in range(N_DOCS)],
                                 "doc_id long, content string")
    build_index(spark, docs, out, IndexConfig(block_size=8, salt_shift=4, positions=True),
                doc_id_col="doc_id", content_col="content")
    return out


def _table(path: str) -> pa.Table:
    files = sorted(glob.glob(f"{path}/*.parquet"))
    return pa.concat_tables([pq.read_table(f) for f in files]).combine_chunks()


def _rowwise_postings(tbl: pa.Table) -> list:
    """One PostingBlocks + decode_all per shard row (index_reference's decode)."""
    out = []
    for r in tbl.to_pylist():
        pb = PostingBlocks(
            first_doc=np.asarray(r["block_first_doc"], np.int64),
            max_doc=np.asarray(r["block_max_doc"], np.int64),
            counts=np.asarray(r["block_count"], np.int32),
            offsets=np.asarray(r["block_offset"], np.int64),
            max_weight=np.asarray(r["block_max_weight"], np.float32),
            kinds=np.asarray(r["block_kind"], np.uint8),
            payload=bytes(r["payload"]),
        )
        docs, tfs = decode_all(pb)
        out += [(r["term"], d, t) for d, t in zip(docs.tolist(), tfs.tolist())]
    return out


def _rowwise_positions(tbl: pa.Table) -> list:
    out = []
    for r in tbl.to_pylist():
        docs, npos, pos = decode_positions(bytes(r["payload"]), r["df"])
        out += [(r["term"], d, p.tolist())
                for d, p in zip(docs.tolist(), np.split(pos, np.cumsum(npos)[:-1]))]
    return out


def _batch_rows(fn, batches) -> list:
    out = []
    for b in fn(iter(batches)):
        out += [tuple(r.values()) for r in b.to_pylist()]
    return out


def _slicings(batch: pa.RecordBatch) -> list:
    """The whole batch, and a zero-row batch followed by three slices with
    non-zero offsets (list and binary offsets then start mid-buffer)."""
    n = batch.num_rows
    a, b = n // 3, 2 * n // 3
    return [[batch], [batch.slice(0, 0), batch.slice(0, a), batch.slice(a, b - a),
                      batch.slice(b)]]


def test_fixture_covers_every_block_kind_and_multi_shard_terms(index_dir):
    tbl = _table(f"{index_dir}/postings")
    kinds = np.concatenate([np.asarray(k, np.uint8) for k in tbl.column("block_kind").to_pylist()])
    assert {DOC_VARINT, DOC_RUN, DOC_BITSET} <= set((kinds & KIND_DOC_MASK).tolist())
    assert (kinds & KIND_CONST_TF).any() and not (kinds & KIND_CONST_TF).all()
    shards = tbl.group_by("term").aggregate([("salt", "count")]).to_pydict()
    n_shards = dict(zip(shards["term"], shards["salt_count"]))
    assert all(n_shards[t] > 1 for t in ("runterm", "dense", "sparse", "mixtf"))
    assert max(len(c) for c in tbl.column("block_count").to_pylist()) > 1


def test_batch_postings_decode_equals_rowwise(index_dir):
    tbl = _table(f"{index_dir}/postings")
    want = _rowwise_postings(tbl)
    assert len(want) > 2 * N_DOCS
    batch = tbl.to_batches()[0]
    for batches in _slicings(batch):
        assert _batch_rows(_postings_batches, batches) == want
    assert _batch_rows(_postings_batches, [batch.slice(0, 0)]) == []


def test_batch_positions_decode_equals_rowwise(index_dir):
    tbl = _table(f"{index_dir}/positions")
    want = _rowwise_positions(tbl)
    assert len(want) > 2 * N_DOCS and any(len(p) > 1 for _, _, p in want)
    batch = tbl.to_batches()[0]
    for batches in _slicings(batch):
        assert _batch_rows(_positions_batches, batches) == want
    assert _batch_rows(_positions_batches, [batch.slice(0, 0)]) == []


def test_spark_decode_equals_rowwise(spark, index_dir):
    """The mapInArrow plans (repartitioned, several batches per task) give
    the per-row decode's rows, and the built index itself matches the JVM
    token stream."""
    from index_reference import assert_positions_match_reference, assert_postings_match_reference

    from edgesearch_spark.engine import SearchEngine

    assert assert_postings_match_reference(spark, index_dir) > 0
    assert assert_positions_match_reference(spark, index_dir) > 0
    eng = SearchEngine(spark, index_dir)
    terms = ["runterm", "dense", "sparse", "mixtf", "only5", "zz_nope"]
    got = sorted(tuple(r) for r in eng._decoded_for(terms).collect())
    ptbl = _table(f"{index_dir}/postings")
    assert got == sorted(t for t in _rowwise_postings(ptbl) if t[0] in terms)
    got = sorted((r["term"], r["doc_id"], list(r["positions"]))
                 for r in eng._decoded_positions_for(terms).collect())
    want = sorted(t for t in _rowwise_positions(_table(f"{index_dir}/positions"))
                  if t[0] in terms)
    assert got == want
