"""Physical-plan quality gates: the properties that keep this engine fast at
100 TB must be visible in the plan, not assumed.

- term lookups push down to the parquet scan (the chunk-pruning analogue,
  SURVEY.md §4 row 1)
- projections prune columns at the scan
- the per-term df join in BM25 broadcasts (no shuffle of the big side)
- the relational hot paths contain no Python eval nodes
- a kernel-routed page (term reads, norms, doc fetch) runs no Spark job
- driver-side literal tables are local relations, never Python RDDs
"""

import contextlib
import glob
import io
import re
import shutil

import pytest
from pyspark.sql import functions as F

from conftest import jobs_run
from edgesearch_spark.build import IndexConfig, build_index
from edgesearch_spark.corpus import generate_corpus


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def python_nodes(plan: str) -> set:
    """Names of the Python-crossing operators in a formatted plan."""
    return set(re.findall(r"\b\w*Python\w*|\bMapIn\w+", plan))


def decode_only_python(plan: str) -> bool:
    """True iff every Python node of ``plan`` is a posting or positions
    decode's MapInArrow (its formatted details name the decode function)."""
    nodes = re.findall(r"\(\d+\) MapInArrow\n", plan)
    funcs = re.findall(r"MapInArrow\nInput \[\d+\]: [^\n]*\nArguments: (\w+)\(", plan)
    return (python_nodes(plan) == {"MapInArrow"} and len(funcs) == len(nodes) > 0
            and set(funcs) <= {"_postings_batches", "_positions_batches"})


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("planidx"))
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, generate_corpus(spark, 300, seed=1), out, IndexConfig(),
                order_cols=("repo", "path", "commit"))
    return out


def test_term_filter_pushed_to_scan(spark, index_dir):
    df = spark.read.parquet(f"{index_dir}/postings").filter(F.col("term").isin(["import", "def"]))
    plan = plan_of(df)
    assert "PushedFilters" in plan and "In(term" in plan, plan


def test_column_pruning_at_scan(spark, index_dir):
    df = spark.read.parquet(f"{index_dir}/docs").select("doc_id", "lang")
    plan = plan_of(df)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "content" not in read_schema[0], plan


def test_bm25_topk_plan_is_joinless_single_pass(spark):
    """r8 rewrite: per-term tf/df come from anchored regexp_counts and
    driver-literal idfs — the plan must carry NO join of any kind (the old
    shape's broadcast df join is gone entirely), no groupBy exchange, and
    finish with a TakeOrderedAndProject (never a global sort)."""
    from edgesearch_spark.plans.contract import q_bm25_topk

    plan = plan_of(q_bm25_topk(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "HashAggregate" not in plan, plan


def test_bm25_topk_term_is_quoted_in_regex(spark, monkeypatch):
    """A regex metacharacter in a term matches only itself ('a.b' never
    counts 'axb'), and q_bm25_topk rejects terms the tokenizer cannot
    emit before it plans anything."""
    from edgesearch_spark.plans import contract

    df = spark.createDataFrame([("axb a.b A.B xa.b",)], "text string")
    n = df.select(contract.token_count_col(F.col("text"), "a.b").alias("n")).first()["n"]
    assert n == 2
    monkeypatch.setattr(contract, "BM25_TERMS", ["spark", "c++"])
    with pytest.raises(ValueError, match="c\\+\\+"):
        contract.q_bm25_topk(spark, "/nonexistent")


def test_relational_paths_have_no_python_eval(spark):
    from edgesearch_spark.plans.contract import q_bool_mixed, q_term_df, q_tokenize_pairs

    for q in (q_tokenize_pairs, q_term_df, q_bool_mixed):
        plan = plan_of(q(spark, "/root/testdata/sf0.001"))
        assert "EvalPython" not in plan, (q.__name__, plan)


@contextlib.contextmanager
def literal_frames(spark):
    """Collects every frame built from driver-side data (anything but an
    RDD) inside the block: through ``createDataFrame``, or through
    ``session.arrow_frame``, whose cached hand-off does not call it."""
    from pyspark import RDD

    from edgesearch_spark import session

    frames = []
    cls = type(spark)
    orig, orig_arrow = cls.createDataFrame, session.arrow_frame

    def spy(self, data, *a, **kw):
        df = orig(self, data, *a, **kw)
        if not isinstance(data, RDD):
            frames.append(df)
        return df

    def arrow_spy(*a, **kw):
        df = orig_arrow(*a, **kw)
        frames.append(df)
        return df

    cls.createDataFrame, session.arrow_frame = spy, arrow_spy
    try:
        yield frames
    finally:
        cls.createDataFrame, session.arrow_frame = orig, orig_arrow


def assert_local_relations(frames):
    """Each frame plans as a LocalTableScan — no Python-RDD scan, so using
    it costs no Spark job and no Python worker."""
    assert frames
    for df in frames:
        plan = plan_of(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_doc_fetch_runs_no_spark_job(spark, index_dir):
    """A page's doc fetch is a driver-local read of the docs store handed
    to Spark as a local relation: building and collecting it runs no Spark
    job, it has the docs store's schema and its rows, each stored doc once
    however often its id is asked for, and an empty page has no rows."""
    from edgesearch_spark.engine import SearchEngine

    eng = SearchEngine(spark, index_dir)

    def fetch(page):
        df = eng.fetch_docs(page)
        return df, df.collect()

    for page in ([7, 1, 42, 3], [3, 3, 1, 3], []):
        (df, rows), jobs = jobs_run(spark, lambda: fetch(page))
        assert jobs == 0, (page, jobs)
        assert df.schema == eng._docs_df.schema
        want = eng._docs_df.filter(F.col("doc_id").isin(page)).collect()
        assert sorted(rows) == sorted(want), page
        assert sorted(r["doc_id"] for r in rows) == sorted(set(page))


def test_kernel_routed_page_runs_no_spark_job(spark, index_dir):
    """On a warmed engine, kernel-routed queries on terms not fetched yet
    (boolean, BM25 and WAND) plus each page's doc fetch run no Spark job
    in total: term, norms and doc reads are all driver-local."""
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.oracle import Query

    eng = SearchEngine(spark, index_dir).warm()
    cold = SearchEngine(spark, index_dir)
    plan = [(eng.search, Query.make(require=["import"], contain=["return"], k=5)),
            (eng.search_bm25, Query.make(require=["license"], k=5)),
            (eng.search_bm25_wand, Query.make(contain=["def", "class"], k=5))]
    assert not eng._cache

    def serve():
        out = []
        for surface, q in plan:
            res = surface(q)
            out.append((res, eng.last_route, eng.fetch_docs(res.doc_ids).collect()))
        return out

    try:
        out, jobs = jobs_run(spark, serve)
    finally:  # later plan tests read this index uncached
        eng._postings_df.unpersist()
    assert jobs == 0, jobs
    for (surface, q), (res, route, rows) in zip(plan, out):
        assert route == "kernel" and res.doc_ids, (q, route)
        assert res == getattr(cold, surface.__name__)(q), q
        assert sorted(r["doc_id"] for r in rows) == sorted(res.doc_ids)


def test_doc_fetch_reads_only_the_row_groups_holding_the_page(spark, tmp_path_factory):
    """The docs store is written in row groups of at most
    build.DOCS_ROWGROUP_ROWS rows, with IndexConfig.target_rowgroup_bytes as
    the byte cap for very large docs. Built with a tiny byte cap, every
    docs file holds several row groups, and a page inside one of them
    decodes that one row group and returns the right rows."""
    import pyarrow.parquet as pq

    from edgesearch_spark.engine import SearchEngine

    out = str(tmp_path_factory.mktemp("rgidx"))
    build_index(spark, generate_corpus(spark, 600, seed=3), out,
                IndexConfig(target_rowgroup_bytes=16 << 10, num_partitions=2),
                order_cols=("repo", "path", "commit"))
    mds = [pq.ParquetFile(f).metadata for f in sorted(glob.glob(f"{out}/docs/*.parquet"))]
    assert mds and all(md.num_row_groups > 1 for md in mds), [md.num_row_groups for md in mds]
    md = mds[0]
    leaf = [md.schema.column(i).path for i in range(md.num_columns)].index("doc_id")
    st = md.row_group(1).column(leaf).statistics
    page = [st.max, st.min, (st.min + st.max) // 2]

    eng = SearchEngine(spark, out)
    reader = eng._local_table("docs")
    before = reader.row_groups_read
    rows = eng.fetch_docs(page).collect()
    assert reader.row_groups_read - before == 1
    want = eng._docs_df.filter(F.col("doc_id").isin(page)).collect()
    assert sorted(rows) == sorted(want) and len(rows) == 3


def test_arrow_frame_keeps_rows_after_an_empty_chunk(spark):
    """PySpark 4.1's createDataFrame(pa.Table) drops every record batch
    after an empty one; session.arrow_frame combines the chunks first, so a
    table with an empty middle chunk keeps all its rows, with no job."""
    import pyarrow as pa

    from edgesearch_spark.session import arrow_frame

    t = pa.table({"x": pa.chunked_array([[1, 2], [], [3, 4]], type=pa.int64())})
    rows, jobs = jobs_run(spark, arrow_frame(spark, t).collect)
    assert sorted(r["x"] for r in rows) == [1, 2, 3, 4] and jobs == 0


def test_distributed_route_has_no_python_rdd(spark, index_dir):
    """The distributed route's per-term literal table is a local relation:
    the executed plan holds no Python-RDD scan, and its only Python nodes
    are the posting decode's MapInArrow."""
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.oracle import Query

    eng = SearchEngine(spark, index_dir)
    q = Query.make(require=["import"], contain=["return", "def"], k=5)
    tp = eng.fetch_terms(list(q.require) + list(q.contain))
    with literal_frames(spark) as frames:
        df = eng._matched_docs_df(q, tp, scored=True)
    assert_local_relations(frames)
    assert df.collect()
    plan = plan_of(df)  # the executed (final adaptive) plan
    assert "ExistingRDD" not in plan, plan
    assert decode_only_python(plan), plan


@pytest.mark.parametrize("scored", [False, True])
def test_routed_page_action_is_take_ordered_over_observed_count(
        spark, index_dir, monkeypatch, scored):
    """A routed page and its exact total are ONE JVM action: the executed
    plan is TakeOrderedAndProject over CollectMetrics (the observed count),
    and its only Python node is the posting decode's MapInArrow."""
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.oracle import Query

    DataFrame = type(spark.range(1))  # the session's concrete class
    eng = SearchEngine(spark, index_dir, hot_route_df=0)
    kernel = SearchEngine(spark, index_dir)
    q = Query.make(require=["import"], contain=["return", "def"], k=5)
    collected = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        collected.append(self)
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    got = eng.search_bm25(q) if scored else eng.search(q)
    monkeypatch.setattr(DataFrame, "collect", orig)
    assert eng.last_route == "distributed"
    want = kernel.search_bm25(q) if scored else kernel.search(q)
    assert (got.total, got.continuation, got.doc_ids) == (
        want.total, want.continuation, want.doc_ids)
    plan = plan_of(collected[-1])  # the page action, as executed
    assert "TakeOrderedAndProject" in plan and "CollectMetrics" in plan, plan
    assert decode_only_python(plan), plan


def test_batch_rank_is_window_group_limit(spark, index_dir):
    """batch_search ranks with a row_number() <= k filter that Spark plans
    as a per-query WindowGroupLimit on both sides of the rank shuffle; the
    only Python nodes left are the posting decode's MapInArrow."""
    from edgesearch_spark.plans.batch import QUERIES_SCHEMA, batch_search
    from edgesearch_spark.session import local_frame

    qdf = local_frame(spark, [("a", ["import"], ["return", "def"], []),
                              ("b", [], ["value"], ["test"])], QUERIES_SCHEMA)
    df = batch_search(spark, index_dir, qdf, k=5, scored=True)
    rows = df.collect()
    assert rows and max(r["rank"] for r in rows) == 4
    plan = plan_of(df)
    # a partial limit below the query_id Exchange, the final one above it
    for mode in ("Partial", "Final"):
        assert f"row_number(), 5, {mode}" in plan, plan
    assert decode_only_python(plan), plan


def test_driver_literal_tables_are_local_relations(spark, tmp_path):
    """The build's partition-offset tables (docID ranks, NUL-stream term
    docIDs) are local relations, not Python RDDs."""
    from edgesearch_spark.docids import assign_doc_ids
    from edgesearch_spark.sources.nul_stream import read_document_terms_file

    with literal_frames(spark) as frames:
        out = assign_doc_ids(generate_corpus(spark, 50, seed=3), ("repo", "path", "commit"))
    assert sorted(r["doc_id"] for r in out.select("doc_id").collect()) == list(range(50))
    out._docid_cache.unpersist()
    assert_local_relations(frames)

    path = str(tmp_path / "document-terms")
    with open(path, "wb") as f:
        f.write(b"a\x00b\x00\x00c\x00\x00")
    with literal_frames(spark) as frames:
        terms = read_document_terms_file(spark, path)
    assert sorted((r["doc_id"], r["term"]) for r in terms.collect()) == [(0, "a"), (0, "b"), (1, "c")]
    assert_local_relations(frames)


def test_regex_literal_maps_are_local_relations(spark, index_dir, tmp_path):
    """index_regex_search's literal maps — the dictionary map alone, and
    the dictionary + trigram maps of an index with overlong runs — are
    local relations."""
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.functions.textsearch import index_regex_search, regex_search

    eng = SearchEngine(spark, index_dir)
    assert eng.oltrigrams_df() is None
    with literal_frames(spark) as frames:
        got = index_regex_search(eng, r"impor[a-z]+ ").select("doc_id")
    assert_local_relations(frames)
    assert [f.columns for f in frames] == [["term", "lit"]]
    want = regex_search(eng._docs_df, r"impor[a-z]+ ").select("doc_id")
    assert sorted(got.collect()) == sorted(want.collect())

    rows = [(0, "x" * 280 + "needle" + "y" * 280), (1, "a needle here"), (2, "plain")]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    out = str(tmp_path / "ol")
    build_index(spark, df, out, IndexConfig(block_size=8, salt_shift=4),
                doc_id_col="doc_id", content_col="content")
    ol = SearchEngine(spark, out)
    assert ol.oltrigrams_df() is not None
    with literal_frames(spark) as frames:
        got = index_regex_search(ol, r"needle").select("doc_id")
    assert_local_relations(frames)
    assert sorted(f.columns for f in frames) == [["lit", "need"], ["term", "lit"], ["term", "lit"]]
    assert sorted(r["doc_id"] for r in got.collect()) == [0, 1]


def test_tombstone_frames_are_local_relations(spark, tmp_path):
    """The delete list, the anti-join tombstone set and the tombstones of
    the distributed |union ∩ live docs| count are local relations."""
    from edgesearch_spark.oracle import Query
    from edgesearch_spark.streaming.incremental import IncrementalIndexer

    idx = IncrementalIndexer(spark, str(tmp_path / "inc"), IndexConfig(block_size=16, salt_shift=7),
                             order_cols=("path",), content_col="content")
    rows = [(f"d{i:03d}", f"score word{i % 7}") for i in range(60)]
    idx.ingest_batch(spark.createDataFrame(rows, "path string, content string"), 0)
    dead = [0, 3, 6]
    with literal_frames(spark) as frames:
        idx.delete_docs(dead)
    assert_local_relations(frames)

    eng = idx.engine()
    # 'word0' (df 9) keeps the WAND route on the kernel; 'score' (df 60)
    # puts the union count past hot_route_df, so it runs on the cluster
    eng.hot_route_df = 30
    live = [d for d in range(60) if d not in dead]
    with literal_frames(spark) as frames:
        got = sorted(r["doc_id"] for r in eng.search_df(Query.make(contain=["score", "word0"])).collect())
        res = eng.search_bm25_wand(Query.make(contain=["score", "word0"], k=5))
    assert got == live and res.total == len(live)
    assert_local_relations(frames)
    # the tombstones anti-joined by search_df and by the distributed count
    assert sorted(f.columns for f in frames).count(["doc_id"]) == 2, [f.columns for f in frames]


def test_lazy_metadata_scan_prunes_payload_column(spark, index_dir, monkeypatch):
    """The hot-term metadata fetch must never read the payload column: its
    ReadSchema at the parquet scan excludes `payload` (column pruning is the
    entire point of metadata-first laziness), and so does the driver-local
    read that serves a lazy term's shard metadata."""
    import numpy as np

    from edgesearch_spark.engine import SearchEngine

    eng = SearchEngine(spark, index_dir)
    meta = eng._postings_df.select(*SearchEngine._META_COLS).filter(F.col("term") == "import")
    plan = plan_of(meta)
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert rs and all("payload" not in ln for ln in rs), plan

    lazy = SearchEngine(spark, index_dir, lazy_min_df=1)
    hot = lazy.fetch_terms(["import"])["import"]
    table = lazy._local_table("postings")
    reads, take = [], table.take
    monkeypatch.setattr(table, "take", lambda cols, isin: reads.append(cols) or take(cols, isin))
    hot._ensure_meta(np.arange(hot.n_shards))
    assert reads and all("payload" not in cols for cols in reads), reads
    assert hot.meta_shards_fetched == hot.n_shards and hot.bytes_fetched == 0
