"""Block-max WAND kernel: rank-identical to exhaustive BM25, with real
pruning on skewed corpora."""

import shutil

import numpy as np
import pytest

from conftest import jobs_run
from edgesearch_spark.build import IndexConfig, build_index
from edgesearch_spark.corpus import generate_corpus, generate_corpus_pandas
from edgesearch_spark.engine import SearchEngine
from edgesearch_spark.oracle import BruteForceOracle, Query
from edgesearch_spark.streaming.incremental import IncrementalIndexer

N_DOCS = 500


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wandidx"))
    shutil.rmtree(out, ignore_errors=True)
    build_index(
        spark, generate_corpus(spark, N_DOCS, seed=9), out,
        IndexConfig(block_size=16, salt_shift=6), order_cols=("repo", "path", "commit"),
    )
    return SearchEngine(spark, out)


@pytest.fixture(scope="module")
def oracle():
    pdf = generate_corpus_pandas(N_DOCS, seed=9).sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    return BruteForceOracle(list(zip(range(len(pdf)), pdf["content"])))


WAND_QUERIES = [
    Query.make(contain=["import", "return", "license"], k=10),
    Query.make(contain=["util1", "util2", "helper3", "the"], k=20),
    Query.make(contain=["uid00000005", "license"], k=5),
    Query.make(contain=["import"], k=50),
    Query.make(contain=["zzz_missing", "import"], k=10),
    Query.make(contain=["data", "value", "error", "test", "main"], k=15, continuation=10),
    Query.make(contain=["the", "a"], k=3, continuation=0),
]


def test_wand_rank_identical_to_exhaustive(engine, oracle):
    for q in WAND_QUERIES:
        got = engine.search_bm25_wand(q)
        want = oracle.search_bm25(q)
        assert got.total == want.total, q
        assert got.continuation == want.continuation, q
        assert list(got.doc_ids) == list(want.doc_ids), q
        assert np.allclose(got.scores, want.scores, atol=1e-9), q


MIXED_QUERIES = [
    Query.make(require=["import"], contain=["util1"], k=10),
    Query.make(contain=["import"], exclude=["error"], k=10),
    Query.make(require=["import", "return"], contain=["the", "license", "util2"], k=15),
    Query.make(require=["value"], contain=["util9"], exclude=["test", "main"], k=20),
    Query.make(require=["import"], k=25, continuation=5),
    Query.make(require=["license"], contain=["license", "import"], k=10),  # r/c overlap
    Query.make(require=["zzz_missing"], contain=["import"], k=10),
    Query.make(require=["import"], contain=["zzz_missing"], k=10),
    # every scoring term missing on an exclude-quirk candidate set: all
    # candidates score 0 and page by docID — wand must match, not prune
    Query.make(contain=["zzz_missing"], exclude=["import"], k=10),
    Query.make(contain=["zzz_missing"], exclude=["import"], k=10, continuation=5),
    Query.make(),
]


def test_wand_mixed_mode_rank_identical(engine, oracle):
    """require/exclude queries now run THROUGH the pruned kernel (candidate
    filter), not around it — scores, totals, pages, continuations all match
    the exhaustive oracle."""
    for q in MIXED_QUERIES:
        got = engine.search_bm25_wand(q)
        want = oracle.search_bm25(q)
        assert got.total == want.total, q
        assert got.continuation == want.continuation, q
        assert list(got.doc_ids) == list(want.doc_ids), q
        assert np.allclose(got.scores, want.scores, atol=1e-9), q


SALTED_N = 1024  # 8 salts at salt_shift 7
SALTED_RARE = list(range(100, 110)) + list(range(140, 150))  # salts 0 and 1


@pytest.fixture(scope="module")
def salted(spark, tmp_path_factory):
    """'hot' in every doc, 'rare' in salts 0 and 1, 'third' in every third
    doc: one single-shot index, and the same rows as two segments whose
    boundary (doc 200) splits salt 1."""
    cfg = IndexConfig(block_size=16, salt_shift=7)
    rows = [(i, "hot" + (" rare" if i in SALTED_RARE else "") + (" third" if i % 3 == 0 else ""))
            for i in range(SALTED_N)]
    out = str(tmp_path_factory.mktemp("saltidx"))
    build_index(spark, spark.createDataFrame(rows, "doc_id long, content string"), out, cfg,
                doc_id_col="doc_id", content_col="content")
    idx = IncrementalIndexer(spark, str(tmp_path_factory.mktemp("saltsegs")), cfg,
                             order_cols=("path",), content_col="content")
    for epoch, (lo, hi) in enumerate(((0, 200), (200, SALTED_N))):
        batch = [(f"d{i:05d}", text) for i, text in rows[lo:hi]]
        idx.ingest_batch(spark.createDataFrame(batch, "path string, content string"), epoch)
    return out, idx


def test_union_total_metadata_path(spark, engine, oracle, salted):
    """_union_total (summary df for a salt one term holds, a decode of the
    other salts one at a time) must equal the brute union cardinality: for
    every contain query; over on-demand terms, where the salts one term
    holds fetch nothing; over segments that split a salt; and with a
    tombstone inside a salt one term holds."""
    for q in WAND_QUERIES:
        present = [p for p in engine.fetch_terms(list(q.contain)).values() if p is not None]
        got = engine._union_total(present)
        want = int(np.unique(np.concatenate([p.all_docs() for p in present])).size)
        assert got == want, q

    out, idx = salted
    fresh = SearchEngine(spark, out, lazy_min_df=10)
    hot, rare = (fresh.fetch_terms(["hot", "rare"])[t] for t in ("hot", "rare"))
    assert hot.lazy and rare.lazy and hot.n_shards == 8
    assert fresh._union_total([hot, rare]) == SALTED_N
    # only hot's shards in rare's two salts were fetched
    assert sorted(hot._payload) == sorted(hot._meta) == [hot._salts.index(s) for s in rare._salts] == [0, 1]

    def check(eng, sets):
        eager = type(eng)(eng.spark, eng._segment_dirs, tombstones=eng._deleted.tolist())
        for terms in sets:
            want = np.setdiff1d(
                np.concatenate([p.all_docs() for p in eager.fetch_terms(terms).values()]), eng._deleted)
            assert eng._union_total(list(eng.fetch_terms(terms).values())) == want.size, terms

    sets = (["hot", "rare"], ["rare", "third"], ["hot", "third"], ["rare"], ["third"])
    multi = idx.engine()
    multi.lazy_min_df = 10
    assert multi.fetch_terms(["hot"])["hot"]._salts.count(1) == 2  # salt 1 split across segments
    check(multi, sets)
    idx.delete_docs([600])  # salt 4, which 'hot' alone holds in hot ∪ rare
    dead = idx.engine()
    dead.lazy_min_df = 10
    assert dead._deleted.tolist() == [600]
    assert dead._union_total(list(dead.fetch_terms(["hot", "rare"]).values())) == SALTED_N - 1
    check(dead, sets)


def test_wand_actually_prunes(engine):
    """On a zipf corpus with a rare high-idf term + hot low-idf terms, the
    kernel must not seed the full union."""
    from edgesearch_spark.wand import wand_topk

    terms = ["uid00000005", "import", "the", "license", "return"]
    tp = engine.fetch_terms(terms)
    present = [(engine.idf(p.df), p) for p in tp.values() if p is not None]
    res = wand_topk(present, 5, engine.doclens, engine.k1, engine.b, engine.avgdl)
    full_union = sum(p.df for _, p in present)
    assert res.seeded < full_union, (res.seeded, full_union)
    assert res.doc_ids.size == 5


def test_wand_skip_total_mode(engine):
    q = Query.make(contain=["import", "return"], k=10)
    fast = engine.search_bm25_wand(q, exact_total=False)
    exact = engine.search_bm25_wand(q, exact_total=True)
    assert fast.total == -1
    assert list(fast.doc_ids) == list(exact.doc_ids)


def test_decode_memo_lru_bounded(engine):
    """ADVICE r4 (low): the decode-once memo must not accumulate a live
    (docs, tfs) int64 pair for every distinct term ever scored. With
    max_decoded_terms=2, querying many distinct terms keeps ≤2 live memos;
    evicted terms keep their compressed blocks (still served correctly)."""
    old = engine.max_decoded_terms
    engine.max_decoded_terms = 2
    engine._cache.clear()
    engine._dec_lru.clear()
    try:
        terms = ["import", "return", "license", "data", "value", "error"]
        for t in terms:
            engine.search_bm25(Query.make(contain=[t], k=5))
        live = [tp for tp in engine._cache.values()
                if tp is not None and not tp.lazy and tp._dec is not None]
        assert len(live) <= 2
        assert len(engine._dec_lru) <= 2
        # an evicted term still answers identically (re-decodes on demand)
        r1 = engine.search_bm25(Query.make(contain=["import"], k=5))
        engine.max_decoded_terms = 10_000
        engine._cache.clear()
        engine._dec_lru.clear()
        r2 = engine.search_bm25(Query.make(contain=["import"], k=5))
        assert r1.doc_ids == r2.doc_ids and r1.scores == r2.scores
    finally:
        engine.max_decoded_terms = old
        engine._cache.clear()
        engine._dec_lru.clear()


def test_paged_norms_identical_and_touch_only_candidate_ranges(spark, engine):
    """VERDICT r4 #4: the norms load per docID range (NormsCache LRU), not
    as one O(n_docs) array. Many-page engine results are bit-identical to
    the one-page engine's; a query whose candidates live in few ranges
    fetches only those pages; the LRU stays bounded with many pages
    touched."""
    from edgesearch_spark.engine import NormsCache, SearchEngine

    paged = SearchEngine(spark, engine.index_dir)
    paged.norms_page_docs = 64         # 500 docs -> 8 pages
    paged.norms_max_pages = 3
    nc = paged.doclens
    assert isinstance(nc, NormsCache)

    for q in WAND_QUERIES[:4]:
        a = engine.search_bm25_wand(q)
        b = paged.search_bm25_wand(q)
        assert (list(a.doc_ids), list(a.scores)) == (list(b.doc_ids), list(b.scores))
        assert a.total == b.total
    assert len(nc._pages) <= 3  # LRU bound held

    # a candidate set confined to one range fetches exactly ONE page
    fresh = SearchEngine(spark, engine.index_dir)
    fresh.norms_page_docs = 64
    fresh.norms_max_pages = 3
    import numpy as np
    got = fresh.doclens[np.array([3, 17, 60])]
    assert fresh.doclens.pages_fetched == 1
    assert list(got) == list(engine.doclens[np.array([3, 17, 60])])


def test_first_doclens_access_runs_no_spark_job(spark, engine):
    """Norms are read on the driver: touching a fresh engine's doclens runs
    zero Spark jobs, and the values are the doclens table's."""
    want = {r["doc_id"]: r["dl"]
            for r in spark.read.parquet(f"{engine.index_dir}/doclens").collect()}
    ids = np.array([0, 3, 17, 250, N_DOCS - 1])
    fresh = SearchEngine(spark, engine.index_dir)
    got, jobs = jobs_run(spark, lambda: fresh.doclens[ids])
    assert jobs == 0, jobs
    assert list(got) == [want[int(i)] for i in ids]


def test_norms_cache_unions_dirs_with_independent_filesystems(tmp_path):
    """ADVICE r5: NormsCache must bind each doclens dir to its OWN
    filesystem (per-dir child datasets, union-ed), not resolve every path
    against whichever filesystem the last dir in the list produced."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from edgesearch_spark.engine import NormsCache

    d1, d2 = tmp_path / "a", tmp_path / "b"
    d1.mkdir(), d2.mkdir()
    pq.write_table(pa.table({"doc_id": [0, 1, 2], "dl": [10, 11, 12]}),
                   d1 / "part-0.parquet")
    pq.write_table(pa.table({"doc_id": [3, 4], "dl": [13, 14]}),
                   d2 / "part-0.parquet")
    nc = NormsCache([str(d1), "file://" + str(d2)], n_docs=5, page_docs=4)
    got = nc[np.array([0, 4, 2, 3])]
    assert list(got) == [10, 14, 12, 13]
    assert nc.pages_fetched == 2  # docs span two pages, both served
