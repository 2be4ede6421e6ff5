"""Batch query plan (plans/batch.py) vs the brute-force oracle: the whole
query table answered in one DataFrame plan must agree with per-query
reference semantics + BM25 ranking."""

import numpy as np
import pytest

from edgesearch_spark.build import IndexConfig, build_index
from edgesearch_spark.corpus import generate_corpus, generate_corpus_pandas
from edgesearch_spark.oracle import BruteForceOracle, Query
from edgesearch_spark.plans.batch import batch_search

N = 400


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("batchidx"))
    build_index(spark, generate_corpus(spark, N, seed=21), out,
                IndexConfig(block_size=16, salt_shift=6), order_cols=("repo", "path", "commit"))
    return out


@pytest.fixture(scope="module")
def oracle():
    pdf = generate_corpus_pandas(N, seed=21).sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    return BruteForceOracle(list(zip(range(len(pdf)), pdf["content"])))


BATCH = {
    "q_req": dict(require=["import", "return"]),
    "q_req_rare": dict(require=["license", "util5"]),
    "q_con": dict(contain=["util3", "helper7", "struct"]),
    "q_mix": dict(require=["value"], contain=["util9"], exclude=["test", "main"]),
    "q_missing_req": dict(require=["zzz_nope", "import"]),
    "q_missing_con": dict(require=["import"], contain=["zzz_nope", "util1"]),
    "q_excl_only": dict(exclude=["license"]),
    "q_missing_exc": dict(require=["import"], exclude=["zzz_nope"]),
    # a term in BOTH require and contain must score exactly once
    # (oracle: dict.fromkeys(require+contain))
    "q_overlap_rc": dict(require=["import"], contain=["import", "util1"]),
}


def test_batch_matches_oracle(spark, index_dir, oracle):
    rows = [
        (qid, list(spec.get("require", [])), list(spec.get("contain", [])), list(spec.get("exclude", [])))
        for qid, spec in BATCH.items()
    ]
    qdf = spark.createDataFrame(rows, "query_id string, require array<string>, contain array<string>, exclude array<string>")
    got = batch_search(spark, index_dir, qdf, k=20, scored=True).collect()
    by_q: dict[str, list] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, spec in BATCH.items():
        want = oracle.search_bm25(Query.make(k=20, **spec))
        got_docs = [r["doc_id"] for r in by_q.get(qid, [])]
        assert got_docs == want.doc_ids, (qid, got_docs, want.doc_ids)
        got_scores = [r["score"] for r in by_q.get(qid, [])]
        assert np.allclose(got_scores, [round(s, 6) for s in want.scores], atol=1e-6), qid


def test_batch_boolean_mode(spark, index_dir, oracle):
    qdf = spark.createDataFrame(
        [("b1", ["import"], [], ["error"])],
        "query_id string, require array<string>, contain array<string>, exclude array<string>",
    )
    got = [r["doc_id"] for r in batch_search(spark, index_dir, qdf, k=30, scored=False).orderBy("rank").collect()]
    want = oracle.search(Query.make(require=["import"], exclude=["error"], k=30))
    assert got == want.doc_ids



def test_batch_fold_past_ord_cap(spark, index_dir, oracle, monkeypatch):
    """A table holding a query with more scoring terms than the fold's
    per-ord column cap (plans/fold.py) folds every query through the
    sorted-struct shape — wide and narrow queries alike still match the
    oracle."""
    from edgesearch_spark.plans.fold import _MAX_ORD_COLS

    terms = sorted(r["term"] for r in
                   spark.read.parquet(f"{index_dir}/term_stats").select("term").collect())
    wide = terms[:_MAX_ORD_COLS + 6]
    monkeypatch.setattr(oracle, "max_query_terms", 80)
    specs = {
        "wide": dict(contain=wide),
        "wide_mix": dict(require=["import"], contain=wide[:_MAX_ORD_COLS + 1] + ["zzz_nope"],
                         exclude=["test"]),
        "narrow": dict(require=["import", "return"]),
    }
    qdf = spark.createDataFrame(
        [(qid, list(s.get("require", [])), list(s.get("contain", [])), list(s.get("exclude", [])))
         for qid, s in specs.items()],
        "query_id string, require array<string>, contain array<string>, exclude array<string>")
    out = batch_search(spark, index_dir, qdf, k=20, scored=True)
    assert "collect_list" in out._jdf.queryExecution().optimizedPlan().toString()
    by_q: dict[str, list] = {}
    for r in sorted(out.collect(), key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, spec in specs.items():
        want = oracle.search_bm25(Query.make(k=20, **spec))
        assert want.doc_ids, qid
        assert [r["doc_id"] for r in by_q.get(qid, [])] == want.doc_ids, qid
        got_scores = [r["score"] for r in by_q.get(qid, [])]
        assert np.allclose(got_scores, [round(s, 6) for s in want.scores], atol=1e-6), qid


def test_batch_vocab_broadcast_gated_on_bytes(spark, index_dir, oracle, monkeypatch):
    """The forced vocabulary broadcast is dropped past a BYTE budget too,
    not only past a term count (ADVICE: 255-byte terms put a
    count-admitted vocabulary far above the budget). With auto-broadcast
    off, only the hint could plan a BroadcastExchange."""
    from pyspark.sql import functions as F

    from edgesearch_spark.plans import batch

    monkeypatch.setattr(batch, "BROADCAST_MAX_BYTES", 1024)
    synth = spark.range(batch.ISIN_MAX_TERMS + 100).select(
        F.concat(F.lit("vq"), F.col("id").cast("string")).alias("t"))
    qdf = synth.select(
        F.concat(F.lit("s"), F.col("t")).alias("query_id"),
        F.array(F.col("t")).alias("require"),
        F.array().cast("array<string>").alias("contain"),
        F.array().cast("array<string>").alias("exclude"),
    ).unionByName(spark.createDataFrame(
        [("real1", ["import", "return"], [], [])],
        "query_id string, require array<string>, contain array<string>, exclude array<string>"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = batch_search(spark, index_dir, qdf, k=20, scored=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        rows = out.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "LeftSemi" in plan
    assert "BroadcastExchange" not in plan
    got = [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"]) if r["query_id"] == "real1"]
    assert got == oracle.search_bm25(Query.make(k=20, require=["import", "return"])).doc_ids


@pytest.fixture(scope="module")
def pos_index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("batchposidx"))
    build_index(spark, generate_corpus(spark, N, seed=21), out,
                IndexConfig(block_size=16, salt_shift=6, positions=True),
                order_cols=("repo", "path", "commit"))
    return out


def test_batch_phrase_matches_single_phrase_twin(spark, pos_index_dir):
    """batch_phrase_search over a phrase table ≡ per-phrase
    index_phrase_search_positions, including 1-term and no-match rows;
    phrases that tokenize to nothing produce no rows."""
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.functions.textsearch import index_phrase_search_positions
    from edgesearch_spark.plans.batch import batch_phrase_search

    eng = SearchEngine(spark, pos_index_dir)
    phrases = [("a", "import return"), ("b", "return import self"),
               ("c", "license"), ("d", "zzz_nope import"), ("e", "...")]
    out = batch_phrase_search(
        eng, spark.createDataFrame(phrases, "query_id string, phrase string"))
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["doc_id"])
    nonzero = 0
    for qid, ph in phrases:
        if qid == "e":
            assert qid not in got  # tokenizes to nothing
            continue
        want = set(r["doc_id"] for r in
                   index_phrase_search_positions(eng, ph).collect())
        assert got.get(qid, set()) == want, (qid, ph)
        nonzero += bool(want)
    assert nonzero >= 2


def test_batch_phrase_requires_positions(spark, index_dir):
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.plans.batch import batch_phrase_search

    eng = SearchEngine(spark, index_dir)
    with pytest.raises(ValueError, match="positional sidecar"):
        batch_phrase_search(
            eng, spark.createDataFrame([("a", "x y")], "query_id string, phrase string"))


def test_batch_phrase_multisegment_deletes(spark, tmp_path_factory):
    """Batch phrase honors segment unions + tombstones like the
    single-phrase surface."""
    from edgesearch_spark.functions.textsearch import index_phrase_search_positions
    from edgesearch_spark.plans.batch import batch_phrase_search
    from edgesearch_spark.streaming.incremental import IncrementalIndexer
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("batchposseg"))
    cfg = IndexConfig(block_size=16, salt_shift=6, positions=True)
    idx = IncrementalIndexer(spark, root, cfg, order_cols=("repo", "path", "commit"))
    corpus = generate_corpus(spark, N, seed=21)
    idx.ingest_batch(corpus.filter(F.col("path") < "src/m2"), 0)
    idx.ingest_batch(corpus.filter(F.col("path") >= "src/m2"), 1)
    eng = idx.engine()
    ph = "import return"
    want = sorted(r["doc_id"] for r in
                  index_phrase_search_positions(eng, ph).collect())
    out = batch_phrase_search(
        eng, spark.createDataFrame([("a", ph)], "query_id string, phrase string"))
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == want and got
    victims = got[:2]
    idx.delete_docs(victims)
    live = idx.engine()
    out2 = batch_phrase_search(
        live, spark.createDataFrame([("a", ph)], "query_id string, phrase string"))
    got2 = sorted(r["doc_id"] for r in out2.collect())
    assert got2 == [d for d in got if d not in victims]


def test_batch_large_vocab_semi_join_plan(spark, index_dir, oracle):
    """Past ISIN_MAX_TERMS distinct query terms the pruning must be a
    broadcast semi-join — no literal In-list in the plan (VERDICT r6 #1:
    at 10^6 queries a collected term list is a driver/plan explosion) —
    and results must stay oracle-identical."""
    from pyspark.sql import functions as F

    # 10^4 distinct synthetic terms + two real queries mixed in
    synth = spark.range(10_000).select(
        F.concat(F.lit("vq"), F.col("id").cast("string")).alias("t"))
    qdf = synth.select(
        F.concat(F.lit("s"), F.col("t")).alias("query_id"),
        F.array(F.col("t")).alias("require"),
        F.array().cast("array<string>").alias("contain"),
        F.array().cast("array<string>").alias("exclude"),
    ).unionByName(spark.createDataFrame(
        [("real1", ["import", "return"], [], []),
         ("real2", ["value"], ["util9"], ["test", "main"])],
        "query_id string, require array<string>, contain array<string>, exclude array<string>"))
    out = batch_search(spark, index_dir, qdf, k=20, scored=True)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan, "large-vocab prune must be a semi-join"
    # no literal In-list over the collected vocabulary anywhere in the plan
    assert "vq777" not in plan and "vq9999" not in plan
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
    for qid, spec in (("real1", dict(require=["import", "return"])),
                      ("real2", dict(require=["value"], contain=["util9"],
                                     exclude=["test", "main"]))):
        want = oracle.search_bm25(Query.make(k=20, **spec))
        assert [d for _, d in sorted(got.get(qid, []))] == want.doc_ids, qid
    # the synthetic terms are absent from the index → no rows
    assert not any(q.startswith("svq") for q in got)


def test_batch_phrase_overlong_token_parity(spark, pos_index_dir):
    """A phrase holding a >MAX_TERM_BYTES token matches NOTHING from both
    the batch and the single-phrase surface (ADVICE r6: batch used to drop
    the overlong token and match the remaining phrase)."""
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.functions.textsearch import index_phrase_search_positions
    from edgesearch_spark.plans.batch import batch_phrase_search

    eng = SearchEngine(spark, pos_index_dir)
    long_tok = "x" * 300
    ph = f"import {long_tok} return"
    single = index_phrase_search_positions(eng, ph).collect()
    assert single == []
    out = batch_phrase_search(
        eng, spark.createDataFrame([("a", ph), ("ok", "import return")],
                                   "query_id string, phrase string"))
    rows = out.collect()
    assert not any(r["query_id"] == "a" for r in rows)
    assert any(r["query_id"] == "ok" for r in rows)  # sibling unaffected


def test_batch_phrase_large_vocab_semi_join_plan(spark, pos_index_dir):
    """batch_phrase_search past ISIN_MAX_TERMS: semi-join prune, no literal
    In-list, results identical to the single-phrase twin."""
    from pyspark.sql import functions as F

    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.functions.textsearch import index_phrase_search_positions
    from edgesearch_spark.plans.batch import batch_phrase_search

    eng = SearchEngine(spark, pos_index_dir)
    synth = spark.range(2_000).select(
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("query_id"),
        F.concat(F.lit("pvq"), F.col("id").cast("string"), F.lit(" pvqx")).alias("phrase"))
    qdf = synth.unionByName(spark.createDataFrame(
        [("real", "import return")], "query_id string, phrase string"))
    out = batch_phrase_search(eng, qdf)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan
    assert "pvq1999" not in plan
    got = sorted(r["doc_id"] for r in out.collect() if r["query_id"] == "real")
    want = sorted(r["doc_id"] for r in
                  index_phrase_search_positions(eng, "import return").collect())
    assert got == want and got


def test_batch_phrase_mixed_positions_coverage(spark, tmp_path_factory):
    """Per-segment positional route for batch phrase: one segment built
    WITHOUT positions is served by the AND+verify scan-side branch (same
    (slot, positions) struct shape), the covered segment off its sidecar —
    results identical to the scan-side truth across both segments."""
    from edgesearch_spark.functions.textsearch import phrase_search
    from edgesearch_spark.plans.batch import batch_phrase_search
    from edgesearch_spark.streaming.incremental import IncrementalIndexer
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("batchposmix"))
    idx = IncrementalIndexer(
        spark, root, IndexConfig(block_size=16, salt_shift=6, positions=False),
        order_cols=("repo", "path", "commit"))
    corpus = generate_corpus(spark, N, seed=23)
    idx.ingest_batch(corpus.filter(F.col("path") < "src/m2"), 0)
    idx.cfg = IndexConfig(block_size=16, salt_shift=6, positions=True)
    idx.ingest_batch(corpus.filter(F.col("path") >= "src/m2"), 1)
    eng = idx.engine()
    assert eng.positions_plan()[1] is not None  # genuinely mixed coverage
    phrases = [("a", "import return"), ("b", "fn main"), ("z", "zz_nope xx")]
    out = batch_phrase_search(
        eng, spark.createDataFrame(phrases, "query_id string, phrase string"))
    got: dict = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["doc_id"])
    lo = 0
    for qid, ph in phrases:
        want = set(r["doc_id"] for r in phrase_search(eng._docs_df, ph).collect())
        assert got.get(qid, set()) == want, (qid, ph)
        if want:
            lo += 1
            # both segments contribute somewhere across the phrase set
    assert lo >= 2


def test_batch_near_matches_single_surface(spark, pos_index_dir):
    """batch_near_search ≡ index_near_search per query row; degenerate rows
    (single-term, negative slop) produce no rows instead of raising
    (the right mid-table behavior)."""
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.functions.textsearch import index_near_search
    from edgesearch_spark.plans.batch import batch_near_search

    eng = SearchEngine(spark, pos_index_dir)
    specs = [("a", ["import", "return"], 3), ("b", ["fn", "let"], 6),
             ("c", ["import", "IMPORT"], 2),   # dedupes to one term -> no rows
             ("d", ["fn", "let"], -1),          # negative slop -> no rows
             ("e", ["zz_nope", "import"], 9)]   # absent term -> no rows
    out = batch_near_search(eng, spark.createDataFrame(
        specs, "query_id string, terms array<string>, slop int"))
    got: dict = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["doc_id"])
    for qid, terms, slop in specs[:2]:
        want = set(r["doc_id"] for r in index_near_search(eng, terms, slop).collect())
        assert got.get(qid, set()) == want and want, qid
    assert not (set(got) & {"c", "d", "e"})


def test_batch_near_mixed_positions_coverage(spark, tmp_path_factory):
    """batch NEAR over a mixed-coverage index (per-segment route): results
    equal the scan-side twin across both segments."""
    from edgesearch_spark.functions.textsearch import near_search
    from edgesearch_spark.plans.batch import batch_near_search
    from edgesearch_spark.streaming.incremental import IncrementalIndexer
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("batchnearmix"))
    idx = IncrementalIndexer(
        spark, root, IndexConfig(block_size=16, salt_shift=6, positions=False),
        order_cols=("repo", "path", "commit"))
    corpus = generate_corpus(spark, N, seed=29)
    idx.ingest_batch(corpus.filter(F.col("path") < "src/m2"), 0)
    idx.cfg = IndexConfig(block_size=16, salt_shift=6, positions=True)
    idx.ingest_batch(corpus.filter(F.col("path") >= "src/m2"), 1)
    eng = idx.engine()
    assert eng.positions_plan()[1] is not None
    out = batch_near_search(eng, spark.createDataFrame(
        [("a", ["import", "return"], 4)],
        "query_id string, terms array<string>, slop int"))
    got = sorted(r["doc_id"] for r in out.collect())
    want = sorted(r["doc_id"] for r in
                  near_search(eng._docs_df, ["import", "return"], 4).collect())
    assert got == want and got


def test_batch_search_live_engine_with_deletes(spark, tmp_path_factory):
    """batch_search over a SearchEngine / MultiSegmentEngine: union idf
    (per-term df summed across segment rows), global avgdl, and tombstoned
    docs excluded BEFORE ranks — per-query parity with the engine's own
    exhaustive BM25 on a live 2-segment index with deletes."""
    from edgesearch_spark.oracle import Query
    from edgesearch_spark.streaming.incremental import IncrementalIndexer
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("batchlive"))
    idx = IncrementalIndexer(
        spark, root, IndexConfig(block_size=16, salt_shift=6),
        order_cols=("repo", "path", "commit"))
    corpus = generate_corpus(spark, N, seed=31)
    idx.ingest_batch(corpus.filter(F.col("path") < "src/m2"), 0)
    idx.ingest_batch(corpus.filter(F.col("path") >= "src/m2"), 1)
    idx.delete_docs([1, 5, 17])
    eng = idx.engine()

    specs = [("a", ["import", "return"], [], []),
             ("b", ["let"], ["fn", "mut"], ["struct"]),
             ("x", [], [], ["import"])]  # exclude-only quirk
    qdf = spark.createDataFrame(
        specs, "query_id string, require array<string>, contain array<string>, exclude array<string>")
    out = batch_search(spark, eng, qdf, k=10_000, scored=True)
    got: dict = {}
    for r in out.collect():
        got.setdefault(r["query_id"], {})[r["doc_id"]] = (r["rank"], r["score"])
    assert not ({1, 5, 17} & {d for per in got.values() for d in per})
    for qid, req, con, exc in specs:
        q = Query.make(require=req, contain=con, exclude=exc, k=10_000)
        want = eng.search_bm25(q)
        per = got.get(qid, {})
        assert set(per) == set(want.doc_ids), qid
        for d, s in zip(want.doc_ids, want.scores):
            assert abs(per[d][1] - round(s, 6)) <= 1e-6, (qid, d)
        # ranks follow (score desc, doc_id asc) like the engine page
        ranked = sorted(per.items(), key=lambda kv: kv[1][0])
        assert [d for d, _ in ranked][:20] == list(want.doc_ids)[:20] or \
            sorted(per[d][1] for d, _ in ranked[:20]) == sorted(
                round(s, 6) for s in want.scores[:20]), qid
