"""Absent-term bloom sidecar (bloom.py; VERDICT r2 item 8): novel-term
queries must not cost a Spark job each — the sidecar loads once, then
definitely-absent checks are driver-local. No false negatives: every
indexed term still resolves through the normal path."""

import numpy as np
import pytest

from conftest import jobs_run
from edgesearch_spark.bloom import TermBloom, load_term_bloom, term_range_id
from edgesearch_spark.build import IndexConfig, build_index
from edgesearch_spark.engine import SearchEngine
from edgesearch_spark.oracle import Query


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bloomidx"))
    rows = [(i, f"alpha{i % 50} beta{i % 13} common shared{i % 3}") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    build_index(spark, docs, out, IndexConfig(), doc_id_col="doc_id", content_col="content")
    return out


def test_sidecar_written_and_loadable(spark, index_dir):
    tb = load_term_bloom(spark, index_dir)
    assert tb is not None
    assert tb.n_ranges >= 1


def test_no_false_negatives_over_full_dictionary(spark, index_dir):
    """Bloom guarantee: every indexed term probes 'maybe present'."""
    tb = load_term_bloom(spark, index_dir)
    terms = [r["term"] for r in spark.read.parquet(f"{index_dir}/term_stats")
             .select("term").distinct().collect()]
    assert terms
    for t in terms:
        assert not tb.definitely_absent(t), t


def test_absent_terms_mostly_filtered(spark, index_dir):
    """FP rate sanity: ~0.4% expected at 12 bits/term, k=7."""
    tb = load_term_bloom(spark, index_dir)
    absent = sum(tb.definitely_absent(f"zz_nope_{i}") for i in range(500))
    assert absent >= 490, absent


def test_jvm_range_id_matches_driver(spark, index_dir):
    """The JVM md5 range expression and the driver probe must route a term
    to the same bloom row, or presence would false-negative."""
    tb = load_term_bloom(spark, index_dir)
    rows = spark.read.parquet(f"{index_dir}/term_bloom").collect()
    bits = {int(r["range_id"]): np.frombuffer(bytes(r["bits"]), np.uint8) for r in rows}
    # spot check: each term's driver-computed range row exists and has bits set
    for t in ("common", "alpha0", "beta12"):
        rid = term_range_id(t, tb.n_ranges)
        assert rid in bits and bits[rid].any()


def test_novel_term_queries_cost_at_most_one_job(spark, index_dir):
    """ZERO Spark jobs for the FIRST novel-term query (the sidecar opens
    driver-local) and for every one after — without warm()."""
    eng = SearchEngine(spark, index_dir)  # no warm: dict not on driver
    r, jobs = jobs_run(spark, lambda: eng.search(Query.make(require=["zz_never_indexed"], k=10)))
    assert r.total == 0
    assert jobs == 0, f"first novel-term query cost {jobs} jobs"
    for i in range(5):
        r, jobs = jobs_run(spark, lambda: eng.search(Query.make(require=[f"zz_other_{i}"], k=10)))
        assert r.total == 0
        assert jobs == 0, f"subsequent novel-term query cost {jobs} jobs"


def test_results_identical_with_and_without_bloom(spark, index_dir):
    """The bloom is a pure short-circuit: mixed present/absent queries
    return identical results when it is disabled."""
    with_b = SearchEngine(spark, index_dir)
    no_b = SearchEngine(spark, index_dir)
    no_b._blooms = []  # loaded-but-empty ⇒ never concludes absence
    for spec in (
        dict(require=["common"], contain=["zz_nope"], k=20),
        dict(require=["zz_nope"], k=5),
        dict(contain=["alpha1", "zz_nope", "beta2"], k=15),
        dict(exclude=["zz_nope"], k=10),
    ):
        a, b = with_b.search(Query.make(**spec)), no_b.search(Query.make(**spec))
        assert (a.total, a.continuation, list(a.doc_ids)) == (b.total, b.continuation, list(b.doc_ids)), spec


def test_empty_bloom_row_handling():
    tb = TermBloom(1, lambda rid: None)  # no row: no term hashed to the range
    assert tb.definitely_absent("anything")


def test_lazy_lru_load_per_range(spark, index_dir, tmp_path_factory):
    """VERDICT r3 item 5: the sidecar loads per range on demand — ≤1 row
    fetched per NOVEL term range, re-probes of a cached range fetch
    nothing, the LRU stays bounded, and probes equal those over the
    sidecar rows read whole, for present and absent terms alike."""
    from pyspark.sql import functions as F

    from edgesearch_spark.bloom import build_term_bloom

    # multi-range sidecar: force n_ranges=5 by declaring a big dictionary
    out = str(tmp_path_factory.mktemp("bloomlazy")) + "/term_bloom"
    term_stats = spark.read.parquet(f"{index_dir}/term_stats").select("term").distinct()
    n_ranges = build_term_bloom(spark, term_stats, out, n_terms=5 * (1 << 16))
    assert n_ranges == 5

    idx_root = out[: -len("/term_bloom")]
    rows = {r["range_id"]: bytes(r["bits"]) for r in spark.read.parquet(out).collect()}
    whole = TermBloom(n_ranges, rows.get)
    lazy = load_term_bloom(spark, idx_root, max_cached_rows=8)

    terms = [r["term"] for r in term_stats.collect()]
    probes = terms + [f"zz_nope_{i}" for i in range(10)]
    for t in probes:
        assert lazy.definitely_absent(t) == whole.definitely_absent(t), t
    # every present term must be 'maybe present' in lazy mode too
    assert not any(lazy.definitely_absent(t) for t in terms)
    # cache (8) covers all 5 ranges ⇒ EXACTLY one fetch per novel range
    touched = {term_range_id(t, 5) for t in probes}
    assert lazy.rows_fetched == len(touched), (lazy.rows_fetched, len(touched))
    # a cache-resident probe fetches nothing
    before = lazy.rows_fetched
    lazy.definitely_absent(terms[0])
    assert lazy.rows_fetched == before

    # a TIGHT cache stays bounded (evicts; may re-fetch) and stays correct
    tight = load_term_bloom(spark, idx_root, max_cached_rows=1)
    for t in probes:
        assert tight.definitely_absent(t) == whole.definitely_absent(t), t
        assert len(tight._bits) <= 1


def test_spark_fallback_loader_matches_pyarrow(spark, index_dir, monkeypatch):
    """ADVICE r4 (low): a remote index dir (hdfs://, s3a://) must keep the
    sidecar and the norms through Spark's filesystem when pyarrow has no
    driver for the scheme. Force the driver-local reader's Spark fallback
    on the same local index and assert probe-for-probe agreement of the
    bloom and page-for-page equality of the norms."""
    from edgesearch_spark import localread
    from edgesearch_spark.engine import NormsCache

    doclens = f"{index_dir}/doclens"
    fast = load_term_bloom(spark, index_dir, max_cached_rows=8)
    fast_norms = NormsCache([doclens], n_docs=400, page_docs=64, spark=spark)
    monkeypatch.setattr(localread, "_locate", lambda path: None)
    slow = load_term_bloom(spark, index_dir, max_cached_rows=8)
    slow_norms = NormsCache([doclens], n_docs=400, page_docs=64, spark=spark)
    assert slow is not None
    probes = [f"alpha{i}" for i in range(60)] + ["common", "zzz_never", "qq_nope"]
    got, jobs = jobs_run(spark, lambda: [slow.definitely_absent(t) for t in probes])
    assert jobs > 0  # the fallback really went through Spark
    assert got == [fast.definitely_absent(t) for t in probes]
    pids = range(-(-400 // 64))
    pages, jobs = jobs_run(spark, lambda: [slow_norms._page(p) for p in pids])
    assert jobs > 0  # the fallback really went through Spark
    for pid, page in zip(pids, pages):
        want = fast_norms._page(pid)
        assert page.dtype == want.dtype and np.array_equal(page, want), pid
