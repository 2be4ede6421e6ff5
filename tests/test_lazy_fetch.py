"""Hot-term driver safety: terms with df > lazy_min_df are served on
demand (``TermPostings.lazy``) — shard summaries up front, block metadata
(payload column pruned from the read) and payload fetched per
candidate-bearing (term, salt) shard only; smaller terms are prefetched
whole.
A require+rare query against a df=N term must transfer ≪ the full posting
list while producing byte-identical results to the eager engine."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from edgesearch_spark.build import IndexConfig, build_index
from edgesearch_spark.engine import SearchEngine
from edgesearch_spark.oracle import Query

N = 2000
RARE_DOCS = list(range(100, 110)) + list(range(140, 150))  # 20 docs, 1 salt bucket at shift 7


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lazyidx"))
    rows = []
    for i in range(N):
        text = f"hot common{i % 7} filler{i % 31}"
        if i in RARE_DOCS:
            text += " rare"
        if i % 3 == 0:
            text += " third"
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    build_index(spark, docs, out, IndexConfig(block_size=16, salt_shift=7),
                doc_id_col="doc_id", content_col="content")
    return out


@pytest.fixture()
def engines(spark, index_dir):
    eager = SearchEngine(spark, index_dir)              # default threshold: nothing lazy here
    lazy = SearchEngine(spark, index_dir, lazy_min_df=100)  # 'hot'(2000), 'third'(667) go lazy
    return eager, lazy


def test_require_rare_plus_hot_bounded_fetch(engines):
    eager, lazy = engines
    q = Query.make(require=["rare", "hot"], k=50)
    a, b = eager.search(q), lazy.search(q)
    assert (a.total, a.continuation, list(a.doc_ids)) == (b.total, b.continuation, list(b.doc_ids))
    hot = lazy._cache["hot"]
    assert hot.lazy
    assert not lazy._cache["rare"].lazy
    # the rare docs live in ~2 of the 16 salt buckets: ≪ full payload moved
    assert hot.bytes_fetched > 0
    assert hot.bytes_fetched < hot.total_payload_bytes / 4, (
        hot.bytes_fetched, hot.total_payload_bytes)


def test_bm25_rank_identical_under_laziness(engines):
    eager, lazy = engines
    for spec in (
        dict(require=["rare"], contain=["hot", "third"], k=20),
        dict(require=["rare", "third"], exclude=["common1"], k=20),
        dict(require=["rare"], contain=["common2"], exclude=["third"], k=20),
    ):
        q = Query.make(**spec)
        a, b = eager.search_bm25(q), lazy.search_bm25(q)
        assert list(a.doc_ids) == list(b.doc_ids), spec
        assert np.allclose(a.scores, b.scores, atol=1e-12), spec
        assert a.total == b.total, spec


def test_boolean_contain_exclude_probe_not_decode(engines):
    """require + hot contain/exclude: the hot terms are probed on the
    candidate set only — no full union decode."""
    eager, lazy = engines
    q = Query.make(require=["rare"], contain=["hot"], exclude=["third"], k=50)
    a, b = eager.search(q), lazy.search(q)
    assert (a.total, list(a.doc_ids)) == (b.total, list(b.doc_ids))
    hot = lazy._cache["hot"]
    assert hot.bytes_fetched < hot.total_payload_bytes / 4


def test_wand_lazy_rank_identical(engines):
    eager, lazy = engines
    q = Query.make(contain=["rare", "third", "common3"], k=10)
    a = eager.search_bm25(q)
    w = lazy.search_bm25_wand(q, exact_total=False)
    assert list(w.doc_ids) == list(a.doc_ids)
    assert np.allclose(w.scores, a.scores, atol=1e-12)


def test_exclude_only_quirk_with_lazy_terms(engines):
    eager, lazy = engines
    q = Query.make(exclude=["third"], k=30)
    a, b = eager.search(q), lazy.search(q)
    assert (a.total, list(a.doc_ids)) == (b.total, list(b.doc_ids))


def test_missing_terms_still_routed(engines):
    _, lazy = engines
    assert lazy.search(Query.make(require=["zzz_nope"], k=10)).total == 0
    r = lazy.search(Query.make(require=["rare"], contain=["zzz_nope"], k=10))
    assert r.total == len(RARE_DOCS)


def test_on_demand_term_keeps_no_decode_memo(engines):
    """The decode memo's bound (max_decoded_terms × lazy_min_df × 16 B)
    holds because an on-demand term never keeps a whole-term decode: after
    boolean, exhaustive BM25 and WAND queries that decode all of 'hot', it
    holds no memo and never enters the memo LRU, while the prefetched
    'rare' does."""
    _, lazy = engines
    for spec in (dict(contain=["hot"], k=10),
                 dict(require=["rare"], contain=["hot", "third"], k=10),
                 dict(contain=["hot", "rare"], k=10)):
        q = Query.make(**spec)
        lazy.search(q)
        lazy.search_bm25(q)
        lazy.search_bm25_wand(q)
    hot, third, rare = (lazy._cache[t] for t in ("hot", "third", "rare"))
    assert hot.lazy and third.lazy and not rare.lazy
    assert hot.bytes_fetched == hot.total_payload_bytes  # decoded whole
    assert hot._dec is None and third._dec is None
    assert "hot" not in lazy._dec_lru and "third" not in lazy._dec_lru
    assert rare._dec is not None and "rare" in lazy._dec_lru


def test_new_lazy_shard_fetch_runs_no_spark_job(spark, index_dir):
    """Once a hot term's shard summary is cached, a query that needs
    shards not fetched yet, plus its page's doc fetch, runs no Spark job:
    shard metadata and payload are driver-local reads."""
    from conftest import jobs_run

    eager = SearchEngine(spark, index_dir)
    lazy = SearchEngine(spark, index_dir, lazy_min_df=100).warm()
    hot = lazy.fetch_terms(["hot"])["hot"]  # the level-1 summary scan
    assert hot.lazy
    assert hot.bytes_fetched == 0 and hot.meta_shards_fetched == 0
    q = Query.make(require=["rare", "hot"], k=50)

    def serve():
        res = lazy.search(q)
        return res, lazy.fetch_docs(res.doc_ids).collect()

    try:
        (res, rows), jobs = jobs_run(spark, serve)
    finally:
        lazy._postings_df.unpersist()
    assert jobs == 0, jobs
    assert res == eager.search(q) and res.doc_ids == RARE_DOCS
    assert sorted(r["doc_id"] for r in rows) == RARE_DOCS
    assert 0 < hot.bytes_fetched < hot.total_payload_bytes / 4

    # metadata only, for every shard: still no job, no payload moved
    fetched = hot.bytes_fetched
    _, jobs = jobs_run(spark, lambda: hot._ensure_meta(np.arange(hot.n_shards)))
    assert jobs == 0, jobs
    assert hot.meta_shards_fetched == hot.n_shards and hot.bytes_fetched == fetched


def test_spark_fallback_serves_terms_shards_and_docs(spark, index_dir, monkeypatch):
    """A dir whose scheme pyarrow cannot open (e.g. hdfs:// without
    libhdfs) reads the same rows through Spark: small terms, lazy shard
    metadata and payload, and the doc fetch (empty page included) equal
    the driver-local reads, and the fallback really runs Spark jobs."""
    from conftest import jobs_run
    from edgesearch_spark import localread

    fast = SearchEngine(spark, index_dir, lazy_min_df=100)
    readers = [fast._local_table("postings"), fast._local_table("docs"), fast.doclens._table]
    monkeypatch.setattr(localread, "_locate", lambda path: None)
    slow = SearchEngine(spark, index_dir, lazy_min_df=100).warm()
    assert not any(r._via_spark for r in readers)
    try:
        slow.fetch_terms(["hot"])  # the level-1 summary scan, a Spark job either way
        # a warmed engine reads only the small term and the shards here
        q = Query.make(require=["rare", "hot"], k=50)
        got, jobs = jobs_run(spark, lambda: slow.search(q))
    finally:
        slow._postings_df.unpersist()
    assert got == fast.search(q) and jobs > 0  # the fallback really went through Spark
    assert slow._local_table("postings")._via_spark
    for spec in (dict(require=["rare", "hot"], k=50), dict(contain=["common1", "third"], k=7)):
        q = Query.make(**spec)
        for surface in ("search", "search_bm25", "search_bm25_wand"):
            got = getattr(slow, surface)(q)
            assert got == getattr(fast, surface)(q), (surface, spec)
            assert sorted(slow.fetch_docs(got.doc_ids).collect()) == sorted(
                fast.fetch_docs(got.doc_ids).collect())
    assert slow.fetch_docs([]).collect() == []
    assert slow.fetch_docs([5, 5, 1]).schema == fast._docs_df.schema
