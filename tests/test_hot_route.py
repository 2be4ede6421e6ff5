"""The last driver-side scale-killer, closed (VERDICT r2 top_next):

  * union-shaped queries over terms hotter than ``hot_route_df`` auto-route
    to the distributed plan — identical results, the driver holds only the
    page (never a df≈N docID set);
  * a term hotter than ``lazy_min_df`` is served on demand
    (``TermPostings.lazy``), and the WAND kernel θ-bootstraps from such a
    top-bound term's best blocks, so a contain-only query against a df≈N
    term never decodes the whole list (asserted via bytes_fetched ≪
    total_payload_bytes);
  * two-level metadata: a require+rare query against an on-demand df≈N
    term pulls block metadata for only the rare term's candidate shards,
    not all O(df/2^16) of them (meta_shards_fetched ≪ n_shards).

Reference analogue: the worker streams one chunk at a time and never holds
a full hot posting list on its control plane (script/src/main.ts:191-240).
"""

import numpy as np
import pytest

from conftest import jobs_run
from edgesearch_spark.build import IndexConfig, build_index
from edgesearch_spark.engine import SearchEngine
from edgesearch_spark.oracle import Query

N = 4096  # 32 salt buckets at shift 7, 256 blocks at block_size 16
HEAVY = range(256, 288)  # tf=8 'hot' docs, concentrated in salt bucket 2
RARE = list(range(100, 110)) + list(range(140, 150))


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("hotidx"))
    rows = []
    for i in range(N):
        # doc length grows with docID → early blocks carry the highest
        # BM25 weights, so bootstrap + block-max pruning stay localized
        text = "hot " * (8 if i in HEAVY else 1) + " ".join(
            f"pad{j}" for j in range(2 + i // 128)
        )
        if i in RARE:
            text += " rare"
        if i % 3 == 0:
            text += " third"
        if i % 7 == 0:
            text += " seventh"
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    build_index(spark, docs, out, IndexConfig(block_size=16, salt_shift=7),
                doc_id_col="doc_id", content_col="content")
    return out


@pytest.fixture()
def engines(spark, index_dir):
    eager = SearchEngine(spark, index_dir)  # defaults: nothing lazy, nothing routed
    kernel = SearchEngine(spark, index_dir, lazy_min_df=100, hot_route_df=10**9)
    routed = SearchEngine(spark, index_dir, lazy_min_df=100, hot_route_df=1000)
    return eager, kernel, routed


def _same(a, b):
    assert (a.total, a.continuation, list(a.doc_ids)) == (b.total, b.continuation, list(b.doc_ids))
    assert list(a.scores) == list(b.scores)


def test_bool_contain_hot_routes_distributed(engines):
    eager, _, routed = engines
    q = Query.make(contain=["hot"], k=50)
    a, b = eager.search(q), routed.search(q)
    _same(a, b)
    assert a.total == N
    assert routed.last_route == "distributed"
    # single-term union: the page decodes only the LEADING shards (O(page),
    # zero Spark jobs); total comes from shard summaries
    hot = routed._cache["hot"]
    assert hot.lazy
    assert 0 < hot.bytes_fetched < hot.total_payload_bytes / 8, (
        hot.bytes_fetched, hot.total_payload_bytes)


def test_bool_multi_term_hot_union_zero_driver_payload(engines):
    """MULTI-term hot unions still run fully cluster-side — no payload
    bytes reach the driver kernel at all."""
    eager, _, routed = engines
    q = Query.make(contain=["hot", "third"], k=50)
    _same(eager.search(q), routed.search(q))
    assert routed.last_route == "distributed"
    for t in ("hot", "third"):
        p = routed._cache[t]
        if p.lazy:
            assert p.bytes_fetched == 0, (t, p.bytes_fetched)


def test_bool_contain_hot_pagination(engines):
    eager, _, routed = engines
    for c in (0, 7, N - 3, N + 10):
        q = Query.make(contain=["hot", "seventh"], continuation=c, k=5)
        _same(eager.search(q), routed.search(q))
        assert routed.last_route == "distributed"


def test_exclude_only_hot_quirk_routes(engines):
    eager, _, routed = engines
    q = Query.make(exclude=["third"], k=30)
    _same(eager.search(q), routed.search(q))
    assert routed.last_route == "distributed"


def test_all_hot_require_routes(engines):
    eager, _, routed = engines
    n_third = len(range(0, N, 3))
    for q in (
        Query.make(require=["hot", "third"], k=25),
        # a page starting at the total: the observed count still answers
        Query.make(require=["hot", "third"], continuation=n_third, k=25),
        # every 'third' doc holds 'hot': the matched set is empty
        Query.make(require=["third"], exclude=["hot"], k=25),
    ):
        # boolean, then BM25 over the same shape: bit-identical pages
        for mode in ("search", "search_bm25"):
            a, b = getattr(eager, mode)(q), getattr(routed, mode)(q)
            assert routed.last_route == "distributed"
            _same(a, b)
            if q.continuation or q.exclude:
                assert (b.total, b.continuation, list(b.doc_ids)) == (
                    0 if q.exclude else n_third, None, [])


def test_rare_require_stays_kernel(engines):
    eager, _, routed = engines
    q = Query.make(require=["rare"], contain=["hot"], k=20)
    _same(eager.search(q), routed.search(q))
    assert routed.last_route == "kernel"  # rare seed bounds the work


def test_bm25_contain_hot_distributed_bitwise(engines):
    eager, _, routed = engines
    q = Query.make(contain=["hot"], k=10)
    a, b = eager.search_bm25(q), routed.search_bm25(q)
    _same(a, b)
    assert routed.last_route == "distributed"


def test_wand_hot_contain_only_routes(engines):
    eager, _, routed = engines
    q = Query.make(contain=["hot"], k=10)
    a = eager.search_bm25(q)
    w = routed.search_bm25_wand(q)
    _same(a, w)
    assert routed.last_route == "distributed"


def test_wand_kernel_hot_bootstrap_bounded(engines):
    """Kernel path (routing off): θ-bootstrap + two-level block-max pruning
    answer a df=N contain-only query decoding ≪ the full list."""
    eager, kernel, _ = engines
    q = Query.make(contain=["hot"], k=10)
    a = eager.search_bm25(q)
    w = kernel.search_bm25_wand(q, exact_total=False)
    assert list(w.doc_ids) == list(a.doc_ids)
    assert list(w.scores) == list(a.scores)
    assert kernel.last_route == "kernel"
    hot = kernel._cache["hot"]
    assert hot.lazy
    assert hot.bytes_fetched > 0
    assert hot.bytes_fetched < hot.total_payload_bytes / 4, (
        hot.bytes_fetched, hot.total_payload_bytes)
    assert hot.meta_shards_fetched < hot.n_shards / 2, (
        hot.meta_shards_fetched, hot.n_shards)


def test_two_level_meta_bounded_on_require_rare(spark, index_dir):
    """Level-1 summaries only: a require+rare query fetches block metadata
    for just the rare term's candidate shards (VERDICT r2 item 2)."""
    eng = SearchEngine(spark, index_dir, lazy_min_df=100, hot_route_df=10**9)
    q = Query.make(require=["rare", "hot"], k=50)
    r = eng.search(q)
    assert r.total == len(RARE)
    hot = eng._cache["hot"]
    assert hot.lazy
    # rare docs live in 1 salt bucket (100..149 < 128 boundary? 100-127 in
    # bucket 0, 140-149 in bucket 1) → ≤2 of 32 shards materialize
    assert hot.meta_shards_fetched <= 2, hot.meta_shards_fetched
    assert hot.n_shards >= 30
    assert hot.bytes_fetched < hot.total_payload_bytes / 8


def test_union_total_with_hot_terms_exact(engines):
    """Exact totals with on-demand terms, counted one salt at a time on the
    driver (1 hot + eager, 2 hot) — equal to exhaustive BM25's."""
    eager, kernel, _ = engines
    # 1 hot + eager
    q = Query.make(contain=["hot", "rare"], k=5)
    a = eager.search_bm25(q)
    w = kernel.search_bm25_wand(q, exact_total=True)
    assert w.total == a.total == N  # 'hot' covers every doc
    assert list(w.doc_ids) == list(a.doc_ids)
    # 2 hot
    q2 = Query.make(contain=["hot", "third"], k=5)
    a2 = eager.search_bm25(q2)
    w2 = kernel.search_bm25_wand(q2, exact_total=True)
    assert w2.total == a2.total == N
    assert list(w2.doc_ids) == list(a2.doc_ids)
    assert list(w2.scores) == list(a2.scores)


def test_union_total_two_hot_terms_runs_no_job(engines):
    """Two on-demand terms, each under hot_route_df: the exact total is
    counted salt by salt on the driver — zero Spark jobs once the terms'
    summaries are in (it used to be a distributed distinct count, 3 jobs),
    and the page, total and scores equal exhaustive BM25."""
    eager, kernel, _ = engines
    q = Query.make(contain=["third", "seventh"], k=10)
    tp = kernel.fetch_terms(["third", "seventh"])  # the level-1 summary scans
    assert tp["third"].lazy and tp["seventh"].lazy
    assert max(p.df for p in tp.values()) <= kernel.hot_route_df
    w, jobs = jobs_run(kernel.spark, lambda: kernel.search_bm25_wand(q, exact_total=True))
    assert jobs == 0, jobs
    assert kernel.last_route == "kernel"
    _same(eager.search_bm25(q), w)


def test_union_total_single_hot_probe_budgeted(spark, index_dir):
    """The exact-total count must not pull ~every shard of a df≈N term onto
    the driver: past hot_route_df postings to decode from one term it runs
    one distributed distinct count — identical total, bounded
    bytes_fetched. hot_route_df = df(rare) = 20 keeps the WAND route on the
    kernel (min df 20), while 'hot' holds 256 postings in rare's two salts."""
    free = SearchEngine(spark, index_dir, lazy_min_df=100, hot_route_df=10**9)
    tight = SearchEngine(spark, index_dir, lazy_min_df=100, hot_route_df=len(RARE))

    q = Query.make(contain=["hot", "rare"], k=5)
    a = free.search_bm25_wand(q, exact_total=True)
    b = tight.search_bm25_wand(q, exact_total=True)
    assert tight.last_route == "kernel"
    assert a.total == b.total == N
    assert list(a.doc_ids) == list(b.doc_ids)
    h = tight.fetch_terms(["hot"])["hot"]
    assert h.lazy
    # the budgeted engine fetched only what the kernel page itself needed —
    # far below the full list (the probe would have pulled ~everything)
    assert h.bytes_fetched < h.total_payload_bytes / 2, (
        h.bytes_fetched, h.total_payload_bytes)


def test_bm25_distributed_margin_widens_on_ties(spark, tmp_path_factory):
    """All-tied scores are the adversarial case for distributed top-k:
    historically they defeated the rescore-fetch margin and forced a widen
    loop; now cluster-side scores are bit-identical to the kernel's
    (_matched_docs_df's ordered fold), so the fused top-k must already cut
    ties by doc_id exactly like the kernel — same page, same scores, no
    silent top-k cut within float noise (ADVICE r3 lineage)."""
    out = str(tmp_path_factory.mktemp("tieidx"))
    n = 60
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(n)], "doc_id long, content string")
    build_index(spark, docs, out, IndexConfig(block_size=16, salt_shift=7),
                doc_id_col="doc_id", content_col="content")
    kernel = SearchEngine(spark, out)
    routed = SearchEngine(spark, out, lazy_min_df=10, hot_route_df=10)
    q = Query.make(contain=["alpha", "beta"], k=2)
    a = kernel.search_bm25(q)
    b = routed.search_bm25(q)
    assert routed.last_route == "distributed"
    assert a.total == b.total == n
    assert list(a.doc_ids) == list(b.doc_ids)  # tie-break by doc_id, exact
    assert list(a.scores) == list(b.scores)


def test_routed_query_fused_action_cuts_jobs(spark, engines):
    """VERDICT r5 #4: candidate selection and the exact total used to run
    as a count + TakeOrdered action PAIR; _fused_topk_count rides both on
    ONE action. AQE splits every action into per-stage jobs, so the honest
    assertion is comparative: on the SAME matched plan, the fused pass must
    schedule at least 2 fewer jobs than the count+TakeOrdered pair it
    replaced, and a whole warm routed query must fit inside the fused
    pass's own budget."""
    eager, _, routed = engines
    q = Query.make(require=["hot", "third"], k=10)
    a, b = eager.search_bm25(q), routed.search_bm25(q)  # warm caches
    _same(a, b)
    assert routed.last_route == "distributed"

    tp = routed.fetch_terms(["hot", "third"])
    matched = routed._matched_docs_df(q, tp, scored=False)
    _, unfused = jobs_run(spark, lambda: (
        matched.count(), matched.orderBy("doc_id").limit(10).collect()))
    _, fused = jobs_run(
        spark, lambda: routed._fused_topk_count(matched, 10, by_score=False))
    assert fused <= unfused - 2, (fused, unfused)

    # warm IMMEDIATELY before each measured run: in a full-suite session,
    # evictions (decode memo, norms pages, broadcasts) between the fixture
    # warm-up and this point would otherwise charge re-fetch jobs to the
    # measured query and flake the budget assertions
    routed.search(q)
    _, bool_jobs = jobs_run(spark, lambda: routed.search(q))
    routed.search_bm25(q)
    _, bm25_jobs = jobs_run(spark, lambda: routed.search_bm25(q))
    assert bool_jobs <= fused, (bool_jobs, fused)
    # scored mode adds the doclens scan + join (two more AQE stage jobs)
    assert bm25_jobs <= fused + 2, (bm25_jobs, fused)


def test_fused_topk_count_reads_presorted_input_whole(spark):
    """A frame already in page order (a range scan is doc_id-sorted per
    partition) still yields the exact count: the page action must not stop
    at ``limit`` rows per partition before the observed count has seen
    every row."""
    from pyspark.sql import functions as F

    df = spark.range(0, 1000, numPartitions=4).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).cast("double").alias("score"))
    rows, n = SearchEngine._fused_topk_count(df, 10, by_score=False)
    assert n == 1000 and [r["doc_id"] for r in rows] == list(range(10))
    rows, n = SearchEngine._fused_topk_count(df, 10, by_score=True)
    assert n == 1000 and [r["doc_id"] for r in rows] == list(range(6, 76, 7))


def test_decode_spread_gated_on_hotness(spark, index_dir):
    """ADVICE r6: the pre-decode (term, shard) repartition exists to spread
    HOT terms' shard rows; a cold lookup whose dfs are already known must
    not pay the extra shuffle stage as fixed latency — and unknown dfs keep
    the spread (safe default)."""
    eng = SearchEngine(spark, index_dir)
    eng.fetch_terms(["rare", "seventh", "hot"])  # populates _df_cache

    def has_exchange(df):
        return "Exchange hashpartitioning" in \
            df._jdf.queryExecution().executedPlan().toString()

    # cold: 20 + ~585 postings, far under the gate -> no repartition
    assert not has_exchange(eng._decoded_for(["rare", "seventh"]))
    # unknown df (never fetched) -> spread kept
    assert has_exchange(eng._decoded_for(["pad0"]))
    # force-hot: shrink the gate so 'hot' (df=N) is over it -> spread kept
    eng.decode_spread_min_postings = 100
    assert has_exchange(eng._decoded_for(["hot"]))
    # results identical with and without the spread
    got = sorted(r["doc_id"] for r in eng._decoded_for(["rare"]).collect())
    eng.decode_spread_min_postings = 0
    want = sorted(r["doc_id"] for r in eng._decoded_for(["rare"]).collect())
    assert got == want and len(got) == 20


def test_bm25_distributed_no_rescore_jobs(spark, engines):
    """VERDICT r6 #5: cluster-side scores are now bit-identical to the
    kernel, so the distributed BM25 route is exactly ONE fused action per
    query — the old driver-rescore stage (lazy candidate-shard fetches,
    margin checks, widen retries) must schedule ZERO extra jobs. Budget: a
    warm routed query fits in the fused pass's own job count (AQE may
    split the one action into per-stage jobs; the rescore used to add its
    own fetch jobs on top)."""
    eager, _, routed = engines
    q = Query.make(require=["hot", "third"], k=10)
    a = eager.search_bm25(q)
    routed.fetch_terms(["hot", "third"])  # dict + postings warm, untimed

    b, whole_query = jobs_run(spark, lambda: routed.search_bm25(q))
    assert routed.last_route == "distributed"
    _same(a, b)

    tp = routed.fetch_terms(["hot", "third"])
    matched = routed._matched_docs_df(q, tp, scored=True)
    _, fused_alone = jobs_run(
        spark, lambda: routed._fused_topk_count(matched, 10, by_score=True))
    # +1 slack: one metadata-scale job (doclens/term routing) may ride the
    # full query; the removed rescore stage used to add ≥2 shard-fetch jobs
    assert whole_query <= fused_alone + 1, (whole_query, fused_alone)


def test_bm25_distributed_fold_past_ord_cap(spark, tmp_path_factory):
    """A query with more scoring terms than the fold's per-ord column cap
    (plans/fold.py) takes the sorted-struct fold: the routed plan carries no
    per-ord __tf columns, and the page and scores stay bit-identical to the
    kernel's (ADVICE: the engine fold had no cap and emitted one aggregate
    column per term)."""
    from edgesearch_spark.plans.fold import _MAX_ORD_COLS

    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(_MAX_ORD_COLS + 6)]
    rows = [(0, " ".join(["hot"] + vocab))]  # every term exists
    for d in range(1, 80):
        picks = rng.choice(len(vocab), size=int(rng.integers(3, 20)), replace=False)
        words = ["hot"] + [vocab[i] for i in picks for _ in range(int(rng.integers(1, 4)))]
        rows.append((d, " ".join(words)))
    out = str(tmp_path_factory.mktemp("wideidx"))
    build_index(spark, spark.createDataFrame(rows, "doc_id long, content string"), out,
                IndexConfig(block_size=16, salt_shift=7, max_query_terms=80),
                doc_id_col="doc_id", content_col="content")
    kernel = SearchEngine(spark, out)
    routed = SearchEngine(spark, out, lazy_min_df=10, hot_route_df=10)
    q = Query.make(contain=vocab + ["hot"], k=10)
    plan = routed._matched_docs_df(q, routed.fetch_terms(list(q.contain)), scored=True)
    opt = plan._jdf.queryExecution().optimizedPlan().toString()
    assert "__tf" not in opt and "collect_list" in opt
    a = kernel.search_bm25(q)
    b = routed.search_bm25(q)
    assert kernel.last_route == "kernel" and routed.last_route == "distributed"
    assert a.total == b.total == 80
    assert list(a.doc_ids) == list(b.doc_ids)
    assert list(a.scores) == list(b.scores)
