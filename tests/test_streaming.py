"""Structured-Streaming incremental indexing: a corpus streamed in
micro-batches must yield the same query results as a single-shot build."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from edgesearch_spark.build import IndexConfig, build_index
from edgesearch_spark.corpus import CORPUS_SCHEMA, generate_corpus
from edgesearch_spark.engine import SearchEngine
from edgesearch_spark.oracle import Query
from edgesearch_spark.streaming.incremental import IncrementalIndexer

N = 450
CFG = IndexConfig(block_size=16, salt_shift=5)

QUERIES = [
    Query.make(require=["import", "return"], k=20),
    Query.make(require=["license"], contain=["util3"], exclude=["error"], k=20),
    Query.make(contain=["util1", "helper2", "the"], k=15),
    Query.make(exclude=["license"]),
    Query.make(),
]


@pytest.fixture(scope="module")
def corpus_parts(spark, tmp_path_factory):
    """The corpus split into 3 parquet drops (ordered slices of the global
    (repo,path,commit) order so docIDs line up with the single-shot build)."""
    src = str(tmp_path_factory.mktemp("stream_src"))
    full = generate_corpus(spark, N, seed=17).orderBy("repo", "path", "commit").collect()
    for i, lo in enumerate(range(0, N, 150)):
        part = spark.createDataFrame(full[lo : lo + 150], CORPUS_SCHEMA)
        part.coalesce(1).write.mode("overwrite").parquet(f"{src}/drop_{i}")
    return src


def test_stream_equals_single_shot(spark, corpus_parts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("inc_idx"))
    single = str(tmp_path_factory.mktemp("single_idx"))

    indexer = IncrementalIndexer(spark, root, CFG)
    for epoch in range(3):
        batch = spark.read.parquet(f"{corpus_parts}/drop_{epoch}")
        indexer.ingest_batch(batch, epoch)
    assert indexer.manifest()["next_doc_id"] == N

    build_index(spark, generate_corpus(spark, N, seed=17), single, CFG,
                order_cols=("repo", "path", "commit"))

    multi = indexer.engine()
    ref = SearchEngine(spark, single)
    for q in QUERIES:
        a, b = multi.search(q), ref.search(q)
        assert (a.total, a.continuation, list(a.doc_ids)) == (b.total, b.continuation, list(b.doc_ids)), q
        sa, sb = multi.search_bm25(q), ref.search_bm25(q)
        assert list(sa.doc_ids) == list(sb.doc_ids), q
        assert np.allclose(sa.scores, sb.scores, atol=1e-9), q


def test_ingest_idempotent_per_epoch(spark, corpus_parts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idem_idx"))
    indexer = IncrementalIndexer(spark, root, CFG)
    batch = spark.read.parquet(f"{corpus_parts}/drop_0")
    indexer.ingest_batch(batch, 0)
    n1 = indexer.manifest()["next_doc_id"]
    indexer.ingest_batch(batch, 0)  # foreachBatch retry
    assert indexer.manifest()["next_doc_id"] == n1
    assert indexer.manifest()["segments"] == ["seg_000000"]


def test_real_stream_via_foreachbatch(spark, corpus_parts, tmp_path_factory):
    """Drive the actual writeStream → foreachBatch path (availableNow)."""
    root = str(tmp_path_factory.mktemp("stream_idx"))
    src_all = str(tmp_path_factory.mktemp("stream_all"))
    for i in range(3):
        spark.read.parquet(f"{corpus_parts}/drop_{i}").write.mode("append").parquet(src_all)
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_all)
    )
    indexer = IncrementalIndexer(spark, root, CFG)
    q = indexer.start_stream(stream)
    q.awaitTermination(120)
    man = indexer.manifest()
    assert man["next_doc_id"] == N
    eng = indexer.engine()
    r = eng.search(Query.make(require=["import"]))
    assert r.total > 0


def test_compact_restores_single_index(spark, corpus_parts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("cmp_idx"))
    out = str(tmp_path_factory.mktemp("cmp_out"))
    indexer = IncrementalIndexer(spark, root, CFG)
    for epoch in range(3):
        indexer.ingest_batch(spark.read.parquet(f"{corpus_parts}/drop_{epoch}"), epoch)
    indexer.compact(out)
    eng = SearchEngine(spark, out)
    multi = indexer.engine()
    for q in QUERIES[:3]:
        a, b = eng.search_bm25(q), multi.search_bm25(q)
        assert list(a.doc_ids) == list(b.doc_ids), q
        # compacted index has globally consistent block-max metadata → WAND ok
    w = eng.search_bm25_wand(Query.make(contain=["util1", "helper2", "the"], k=15))
    e = eng.search_bm25(Query.make(contain=["util1", "helper2", "the"], k=15))
    assert list(w.doc_ids) == list(e.doc_ids)


def test_multisegment_wand_is_rank_safe(spark, corpus_parts, tmp_path_factory):
    """MultiSegmentEngine.search_bm25_wand must not trust per-segment
    block-max metadata (baked under per-segment avgdl): pre-compact it
    derives avgdl-free bounds from per-block max_tf (or, on pre-max_tf
    indexes, delegates to exhaustive scoring) — ranking is always exact."""
    root = str(tmp_path_factory.mktemp("wand_idx"))
    indexer = IncrementalIndexer(spark, root, CFG)
    for epoch in range(3):
        indexer.ingest_batch(spark.read.parquet(f"{corpus_parts}/drop_{epoch}"), epoch)
    multi = indexer.engine()
    assert len({round(a, 6) for a in multi._segment_avgdls}) > 1  # guard is live
    q = Query.make(contain=["util1", "helper2", "the"], k=15)
    w, e = multi.search_bm25_wand(q), multi.search_bm25(q)
    assert list(w.doc_ids) == list(e.doc_ids)
    assert np.allclose(w.scores, e.scores, atol=1e-12)


def test_multisegment_lazy_parity(spark, corpus_parts, tmp_path_factory):
    """Lazy hot-term serving must compose with segment unions: a
    MultiSegmentEngine with everything lazy returns identical results
    (shards of one term span segments; the (salt, first_doc) ordering and
    shard fetch must handle that)."""
    root = str(tmp_path_factory.mktemp("lazy_multi"))
    indexer = IncrementalIndexer(spark, root, CFG)
    for epoch in range(3):
        indexer.ingest_batch(spark.read.parquet(f"{corpus_parts}/drop_{epoch}"), epoch)
    eager = indexer.engine()
    lazy = indexer.engine()
    lazy.lazy_min_df = 1
    for q in QUERIES[:4]:
        a, b = eager.search(q), lazy.search(q)
        assert (a.total, a.continuation, list(a.doc_ids)) == (b.total, b.continuation, list(b.doc_ids)), q
        sa, sb = eager.search_bm25(q), lazy.search_bm25(q)
        assert list(sa.doc_ids) == list(sb.doc_ids), q
        assert np.allclose(sa.scores, sb.scores, atol=1e-12), q
    assert any(p.lazy for p in lazy._cache.values() if p)


def test_multisegment_hot_route_parity(spark, corpus_parts, tmp_path_factory):
    """The distributed auto-route must compose with segment unions: the
    routed plan decodes self._postings_df (union of segments) and joins the
    union doclens, so a routed MultiSegmentEngine returns identical results
    to the eager one — boolean, exhaustive BM25, and WAND."""
    root = str(tmp_path_factory.mktemp("route_multi"))
    indexer = IncrementalIndexer(spark, root, CFG)
    for epoch in range(3):
        indexer.ingest_batch(spark.read.parquet(f"{corpus_parts}/drop_{epoch}"), epoch)
    eager = indexer.engine()
    routed = indexer.engine()
    routed.lazy_min_df = 1
    routed.hot_route_df = 1
    n_routed = 0
    for q in QUERIES[:4]:
        a, b = eager.search(q), routed.search(q)
        n_routed += routed.last_route == "distributed"
        assert (a.total, a.continuation, list(a.doc_ids)) == (b.total, b.continuation, list(b.doc_ids)), q
        sa, sb = eager.search_bm25(q), routed.search_bm25(q)
        assert list(sa.doc_ids) == list(sb.doc_ids), q
        assert np.allclose(sa.scores, sb.scores, atol=1e-12), q
        wa, wb = eager.search_bm25_wand(q), routed.search_bm25_wand(q)
        assert list(wa.doc_ids) == list(wb.doc_ids), q
    assert n_routed >= 1, "route never engaged on the multi-segment engine"


def test_multisegment_wand_prunes_via_max_tf_bounds(spark, tmp_path_factory):
    """VERDICT r3 item 4: WAND must stay ON across un-compacted segments.
    Stored block-max weights are stale there (baked per-segment avgdl), but
    per-block max_tf derives a live-avgdl-free bound — the kernel runs,
    skips blocks, and is bit-identical to exhaustive scoring."""
    from edgesearch_spark.wand import wand_topk

    root = str(tmp_path_factory.mktemp("tfbound"))
    indexer = IncrementalIndexer(spark, root, IndexConfig(block_size=16, salt_shift=7),
                                 order_cols=("path",), content_col="content")
    for epoch in range(3):
        rows = []
        for i in range(240):
            if i < 16:  # heavy docs: high tf, SHORT — the true top-k
                text = "score " * 8
            else:       # light docs: tf=1, long — prunable blocks
                text = "score " + " ".join(f"pad{epoch}x{j}" for j in range(40 + 20 * epoch))
            rows.append((f"e{epoch}_{i:04d}", text))
        indexer.ingest_batch(spark.createDataFrame(rows, "path string, content string"), epoch)

    multi = indexer.engine()
    assert len({round(a, 6) for a in multi._segment_avgdls}) > 1  # avgdls differ
    assert multi._tf_bounds  # the new bound mode is actually active

    q = Query.make(contain=["score"], k=10)
    w, e = multi.search_bm25_wand(q), multi.search_bm25(q)
    assert list(w.doc_ids) == list(e.doc_ids)
    assert list(w.scores) == list(e.scores)  # bit-identical
    assert w.total == e.total

    # multi-term mixed shape stays exact too
    q2 = Query.make(require=["score"], contain=["pad0x1", "pad2x5"], k=8)
    w2, e2 = multi.search_bm25_wand(q2), multi.search_bm25(q2)
    assert list(w2.doc_ids) == list(e2.doc_ids)
    assert list(w2.scores) == list(e2.scores)

    # LAZY serving under tf-bounds: shard summaries derive their bounds from
    # max_tf too (vectorized branch); the θ-bootstrap runs (lazy top term)
    # and blocks are genuinely SKIPPED under the tf-derived bounds — while
    # the page stays bit-identical
    lazy_eng = indexer.engine()
    lazy_eng.lazy_min_df = 10

    wl = lazy_eng.search_bm25_wand(q)
    p = lazy_eng._cache["score"]
    assert p.lazy
    assert list(wl.doc_ids) == list(e.doc_ids)
    assert list(wl.scores) == list(e.scores)
    res = wand_topk([(lazy_eng.idf(p.df), p)], 10, lazy_eng.doclens,
                    lazy_eng.k1, lazy_eng.b, lazy_eng.avgdl)
    assert res.blocks_skipped > 0, res
    assert list(res.doc_ids) == list(e.doc_ids)
