"""Phrase + regex search (functions/textsearch.py): consecutiveness
semantics, case folding, the two-stage index-accelerated phrase path, and
soundness of required-literal extraction (substrings, not tokens)."""

import pytest

from edgesearch_spark.functions.textsearch import (
    phrase_search,
    regex_search,
    required_literals,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "import spark sql functions"),
        (1, "the spark sql import"),
        (2, "spark import sql"),          # terms present, not consecutive
        (3, "sparkly sql stuff"),          # substring, not token
        (4, "IMPORT Spark SQL yes"),       # case-folds for phrase
        (5, None),
        (6, "spark"),
        (7, "merged vector data"),         # 'merge' substring inside 'merged'
        (8, "merge the vector now"),
    ]
    return spark.createDataFrame(rows, "doc_id long, content string")


def test_phrase_consecutive_only(docs):
    got = sorted(r["doc_id"] for r in phrase_search(docs, "spark sql").collect())
    assert got == [0, 1, 4]
    assert sorted(r["doc_id"] for r in phrase_search(docs, "spark").collect()) == [0, 1, 2, 4, 6]
    assert phrase_search(docs, "sql functions nothere").count() == 0
    # 3-term phrase
    got3 = sorted(r["doc_id"] for r in phrase_search(docs, "import spark sql").collect())
    assert got3 == [0, 4]


def test_regex_literal_prefilter_is_sound(docs):
    """'merge' is a required SUBSTRING — doc 7 ('merged vector') must match
    even though it has no 'merge' TOKEN (a token prefilter would drop it)."""
    got = sorted(r["doc_id"] for r in regex_search(docs, r"merge[a-z ]{0,20}vector").collect())
    assert got == [7, 8]


def test_required_literals_extraction():
    assert required_literals(r"def\s+main\w*") == ["main", "def"]
    assert required_literals(r"(foo|bar)baz") == ["baz"]
    assert required_literals(r"foo|bar") == []           # top-level alternation
    assert required_literals(r"colou?r") == ["colo"]     # ONLY the optional char drops
    assert required_literals(r"abcd?e") == ["abc"]       # …not the char before it
    assert required_literals(r"CamelCase123") == ["CamelCase123"]  # case kept
    assert required_literals(r"ab[0-9]+cdef") == ["cdef"]  # 'ab' under min_len


def test_index_accelerated_phrase_two_stage(spark, docs, tmp_path_factory):
    """AND-candidates from the real index + JVM verify == direct scan."""
    from edgesearch_spark.build import IndexConfig, build_index
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.functions.textsearch import phrase_col
    from edgesearch_spark.oracle import Query

    out = str(tmp_path_factory.mktemp("phraseidx"))
    build_index(spark, docs.fillna({"content": ""}), out,
                IndexConfig(block_size=8, salt_shift=4),
                doc_id_col="doc_id", content_col="content")
    eng = SearchEngine(spark, out)
    cands = eng.search_df(Query.make(require=["spark", "sql"]))
    assert sorted(r["doc_id"] for r in cands.collect()) == [0, 1, 2, 4]  # superset
    verified = sorted(
        r["doc_id"]
        for r in eng.fetch_docs_df(cands)
        .filter(phrase_col("content", ["spark", "sql"])).collect()
    )
    assert verified == sorted(r["doc_id"] for r in phrase_search(docs, "spark sql").collect())


def test_search_df_never_materializes_candidates(spark, docs, tmp_path_factory):
    """The distributed phrase plan must not round-trip candidates through
    the driver: no createDataFrame call larger than the per-term metadata
    rows anywhere on the search_df → fetch_docs_df → verify path
    (VERDICT r3 'wrong #1')."""
    from edgesearch_spark.build import IndexConfig, build_index
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.functions.textsearch import phrase_col
    from edgesearch_spark.oracle import Query

    out = str(tmp_path_factory.mktemp("phrasedf"))
    build_index(spark, docs.fillna({"content": ""}), out,
                IndexConfig(block_size=8, salt_shift=4),
                doc_id_col="doc_id", content_col="content")
    eng = SearchEngine(spark, out)

    import pandas as pd
    import pyarrow as pa

    from edgesearch_spark import session

    sizes = []
    orig, orig_arrow = type(spark).createDataFrame, session.arrow_frame

    def spy(self, data, *a, **kw):
        # every driver-side input form: Python rows, and the Arrow tables
        # (local_frame) and pandas frames that plan as local relations
        if isinstance(data, pa.Table):
            sizes.append(data.num_rows)
        elif isinstance(data, (list, pd.DataFrame)):
            sizes.append(len(data))
        return orig(self, data, *a, **kw)

    def arrow_spy(spark_, table, *a, **kw):
        # arrow_frame's cached hand-off does not call createDataFrame
        sizes.append(table.num_rows)
        return orig_arrow(spark_, table, *a, **kw)

    type(spark).createDataFrame, session.arrow_frame = spy, arrow_spy
    try:
        cands = eng.search_df(Query.make(require=["spark", "sql"]))
        got = sorted(
            r["doc_id"]
            for r in eng.fetch_docs_df(cands)
            .filter(phrase_col("content", ["spark", "sql"])).collect()
        )
    finally:
        type(spark).createDataFrame, session.arrow_frame = orig, orig_arrow
    assert got  # the query does match docs
    # only the tiny per-term metadata frame (≤ n_query_terms rows) is built
    assert sizes and all(s <= 2 for s in sizes), sizes

    # search_df membership == paging search() to exhaustion, all 3 shapes
    for q in (Query.make(require=["spark"]), Query.make(contain=["sql", "stream"]),
              Query.make(require=["spark"], exclude=["sql"])):
        via_df = sorted(r["doc_id"] for r in eng.search_df(q).collect())
        via_page = sorted(eng.search(Query.make(
            require=list(q.require), contain=list(q.contain),
            exclude=list(q.exclude), k=10_000)).doc_ids)
        assert via_df == via_page, (q, via_df, via_page)


@pytest.fixture(scope="module")
def regex_index(spark, docs, tmp_path_factory):
    from edgesearch_spark.build import IndexConfig, build_index
    from edgesearch_spark.engine import SearchEngine

    out = str(tmp_path_factory.mktemp("regexidx"))
    build_index(spark, docs.fillna({"content": ""}), out,
                IndexConfig(block_size=8, salt_shift=4),
                doc_id_col="doc_id", content_col="content")
    return SearchEngine(spark, out)


def test_index_regex_equals_scan_regex(spark, docs, regex_index):
    """The index-accelerated path returns EXACTLY the scan path's docs —
    including doc 7 where 'merge' occurs only INSIDE token 'merged' (the
    dictionary expansion is a substring match over terms, so 'merged' is in
    literal 'merge''s term set)."""
    from edgesearch_spark.functions.textsearch import index_regex_search

    pat = r"merge[a-z ]{0,20}vector"
    got = sorted(r["doc_id"] for r in index_regex_search(regex_index, pat).collect())
    want = sorted(r["doc_id"] for r in regex_search(docs, pat).collect())
    assert got == want == [7, 8]


def test_index_regex_candidates_much_smaller_than_corpus(spark, docs, regex_index):
    """The scale property VERDICT r3 demanded: the verify stage sees only
    index candidates, never the corpus. With a selective literal the
    candidate set here is 2 docs of 9; the docs-store join input equals
    that candidate set."""
    from edgesearch_spark.functions.textsearch import index_regex_search, required_literals
    from pyspark.sql import functions as F

    # reproduce stage 1 exactly as index_regex_search builds it
    lits = [l.lower() for l in required_literals(r"merge[a-z ]{0,20}vector")]
    n_corpus = docs.count()
    exp_terms = {
        lit: [r["term"] for r in
              regex_index._term_stats_df.filter(F.col("term").contains(lit)).collect()]
        for lit in lits
    }
    # dictionary expansion caught the substring-inside-token case
    assert "merged" in exp_terms["merge"]
    # candidate docs = AND over literal groups, computed by the op itself:
    # count docs entering verify by running the op minus the rlike
    out = index_regex_search(regex_index, r"merge[a-z ]{0,20}vector")
    n_verified = out.count()
    all_terms = sorted({t for ts in exp_terms.values() for t in ts})
    cands = regex_index._decoded_for(all_terms).select("doc_id").distinct().count()
    assert n_verified <= cands < n_corpus / 2, (n_verified, cands, n_corpus)


def test_index_regex_no_literal_falls_back_and_absent_literal_short_circuits(spark, regex_index):
    from edgesearch_spark.functions.textsearch import index_regex_search

    # top-level alternation → no required literal → scan fallback, still right
    got = sorted(r["doc_id"] for r in index_regex_search(regex_index, r"sparkly|nosuchword").collect())
    assert got == [3]
    # a literal in NO dictionary term proves zero matches without a doc scan
    assert index_regex_search(regex_index, r"zzqqxyzzy123 vector").count() == 0


def test_verify_stays_above_candidates_join(spark, regex_index):
    """The two-stage design must SURVIVE Catalyst: without the
    verify_on_candidates barrier the rlike/phrase predicate is pushed below
    the join into the docs FileScan (= a corpus scan with extra steps).
    Assert the optimized plan keeps the expensive predicate out of the scan
    and above the join, for both idx operators."""
    from edgesearch_spark.functions.textsearch import index_regex_search, phrase_col, verify_on_candidates
    from edgesearch_spark.oracle import Query

    df = index_regex_search(regex_index, r"merge[a-z ]{0,20}vector")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    scan_like = [ln for ln in plan.splitlines() if "Relation" in ln or "FileScan" in ln]
    assert not any("RLIKE" in ln or "rlike" in ln for ln in scan_like), scan_like
    assert "CASE WHEN (rand(" in plan  # the barrier survived optimization

    cands = regex_index.search_df(Query.make(require=["spark", "sql"]))
    fetched = regex_index.fetch_docs_df(cands)
    ph = verify_on_candidates(fetched, phrase_col("content", ["spark", "sql"])).select("doc_id")
    plan2 = ph._jdf.queryExecution().optimizedPlan().toString()
    assert "CASE WHEN (rand(" in plan2
    # and results are still exactly the scan path's
    got = sorted(r["doc_id"] for r in ph.collect())
    assert got == sorted(r["doc_id"] for r in phrase_search(
        regex_index._docs_df.withColumnRenamed("content", "content"), "spark sql",
        content_col="content").collect())


def test_index_regex_unsound_index_routes_to_scan(spark, tmp_path_factory):
    """ADVICE r4 (high): split_identifiers inserts subtoken boundaries
    ('utf8' -> utf|8) so the literal 'utf8' exists in NO indexed term — the
    "no term contains literal => proven 0 matches" shortcut would silently
    drop doc 0. Such indexes must route regex to the scan path. Same for
    word_map-normalized indexes ('ms' -> microsoft rewrites tokens)."""
    from edgesearch_spark.build import IndexConfig, build_index
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.functions.textsearch import index_regex_search

    rows = [(0, "decode utf8 bytes fast"), (1, "plain ascii text"),
            (2, "the msdn docs page")]
    docs = spark.createDataFrame(rows, "doc_id long, content string")

    out = str(tmp_path_factory.mktemp("splitidx"))
    build_index(spark, docs, out, IndexConfig(split_identifiers=True),
                doc_id_col="doc_id", content_col="content")
    eng = SearchEngine(spark, out)
    assert eng.stats["split_identifiers"] is True
    got = sorted(r["doc_id"] for r in
                 index_regex_search(eng, r"utf8 byte\w*").collect())
    assert got == [0]  # scan fallback keeps the match the shortcut would lose

    out2 = str(tmp_path_factory.mktemp("wmapidx"))
    build_index(spark, docs, out2,
                IndexConfig(word_map={"msdn": "microsoft"}),
                doc_id_col="doc_id", content_col="content")
    eng2 = SearchEngine(spark, out2)
    # stats now record the MAP ITSELF (r8: scan-side positional fallbacks
    # rebuild the normalized stream from it); truthiness is unchanged
    assert eng2.stats["word_map"] == {"msdn": "microsoft"}
    got2 = sorted(r["doc_id"] for r in
                  index_regex_search(eng2, r"msdn doc\w*").collect())
    assert got2 == [2]


def test_index_regex_overlong_literal_ignored(spark, docs, regex_index):
    """A required literal longer than MAX_TERM_BYTES can't live in any
    indexed term even for a matching doc (over-long tokens are dropped at
    build) — it must be skipped, not treated as proof of emptiness."""
    from edgesearch_spark.functions.textsearch import index_regex_search

    long_lit = "a" * 300
    # no doc matches, but the PATH must be the sound one: with the over-long
    # literal ignored and 'vector' expanded, result == scan result (empty)
    got = index_regex_search(regex_index, long_lit + r" vector").count()
    assert got == 0


def _phrase_exact_only(content_col, terms):
    """The pre-precheck zip semantics — ground truth for necessity tests."""
    from pyspark.sql import functions as F

    from edgesearch_spark.tokenizer import _tokens_col

    ts = _tokens_col(content_col)
    if len(terms) == 1:
        return F.array_contains(ts, terms[0].lower())
    shifted = [ts if i == 0 else F.slice(ts, i + 1, F.greatest(F.size(ts) - i, F.lit(0)))
               for i in range(len(terms))]
    want = F.struct(*[F.lit(t.lower()).alias(str(i)) for i, t in enumerate(terms)])
    return F.array_contains(F.arrays_zip(*[c.alias(str(i)) for i, c in enumerate(shifted)]), want)


def test_phrase_precheck_is_necessary(spark):
    """The rlike precheck fronting phrase_col must NEVER flip a true match
    to false — adversarial contents: dropped overlong runs between the
    phrase terms (tokens >255 bytes vanish from the stream, making their
    neighbors adjacent), unicode delimiters, case-folding chars, phrase at
    string boundaries, and a term that is a substring of a dropped run."""
    from pyspark.sql import functions as F

    from edgesearch_spark.functions.textsearch import phrase_col

    long_run = "z" * 300          # dropped: >255 bytes => foo/bar adjacent
    keep_run = "z" * 255          # kept: breaks adjacency
    rows = [
        (0, "foo bar tail"),                      # plain adjacent
        (1, f"foo {long_run} bar"),               # adjacent via dropped run
        (2, f"foo {long_run}, {long_run}\tbar"),  # two dropped runs
        (3, f"foo {keep_run} bar"),               # NOT adjacent (run kept)
        (4, "foo"),                               # phrase longer than doc
        (5, "xfoo bar"),                          # t1 not a token
        (6, "foo barx"),                          # t2 not a token
        (7, "FOO BAR"),                      # unicode delimiter + case
        (8, "foo bar"),                           # exact doc == phrase
        (9, f"{long_run}foo bar"),                # t1 glued into dropped run
        (10, "a foo\n\nbar b"),                   # newline delimiters
        (11, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    got = {r["doc_id"]: (r["new"], r["old"]) for r in df.select(
        "doc_id",
        phrase_col("content", ["foo", "bar"]).alias("new"),
        _phrase_exact_only("content", ["foo", "bar"]).alias("old"),
    ).collect()}
    assert got == {i: (v, v) for i, (v, _) in got.items()}  # new == old everywhere
    assert got[0][1] and got[1][1] and got[2][1] and got[7][1] and got[8][1] and got[10][1]
    assert not got[3][1] and not got[5][1] and not got[9][1]


def test_phrase_precheck_property(spark):
    """Randomized necessity check: over a grammar of tokens/delimiters/
    overlong runs, phrase_col (precheck && zip) equals the zip alone."""
    import random

    from pyspark.sql import functions as F

    from edgesearch_spark.functions.textsearch import phrase_col

    rng = random.Random(5)
    pieces = ["foo", "bar", "baz", "q1", "z" * 256, "z" * 255, "FOO", "Bar"]
    delims = [" ", "", ",", " ", "\n", "-", "İ"]
    rows = []
    for i in range(300):
        n = rng.randint(0, 8)
        s = ""
        for _ in range(n):
            s += rng.choice(pieces) + rng.choice(delims)
        rows.append((i, s))
    df = spark.createDataFrame(rows, "doc_id long, content string")
    for phrase in (["foo", "bar"], ["bar", "baz", "q1"], ["foo"]):
        mism = df.select(
            phrase_col("content", phrase).alias("new"),
            _phrase_exact_only("content", phrase).alias("old"),
        ).filter(F.col("new").eqNullSafe(F.col("old")) == False).count()  # noqa: E712
        assert mism == 0, phrase


@pytest.fixture(scope="module")
def bigram_index(spark, tmp_path_factory):
    """'data' and 'value' are hot (df ≥ 4) and CO-OCCUR in most docs but are
    ADJACENT in only two — the case the common-grams sidecar exists for."""
    from edgesearch_spark.build import IndexConfig, build_index
    from edgesearch_spark.engine import SearchEngine

    rows = [
        (0, "data value pipeline"),            # adjacent
        (1, "value of the data stream"),       # both, not adjacent
        (2, "data in the value column"),       # both, not adjacent
        (3, "the data holds a value here"),    # both, not adjacent
        (4, "big data value store"),           # adjacent
        (5, "data " + "z" * 300 + " value"),   # overlong run dropped => ADJACENT
        (6, "value data"),                     # reversed order only
        (7, "rarex data value rarey"),         # adjacent, plus rare terms
        (8, "no relevant terms at all"),
        (9, "data data value value"),          # repeated hot terms, adjacent
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    out = str(tmp_path_factory.mktemp("bigramidx"))
    build_index(spark, df, out, IndexConfig(block_size=8, salt_shift=4, bigram_min_df=4),
                doc_id_col="doc_id", content_col="content")
    eng = SearchEngine(spark, out)
    eng._test_docs = df
    return eng


def test_bigram_sidecar_built_and_detected(spark, bigram_index):
    from index_reference import assert_sidecars_match_reference

    assert bigram_index.stats.get("bigram_min_df") == 4
    # both sidecars (doc 5 holds a dropped >255-byte run) decode to their
    # references
    n_bi, n_tri = assert_sidecars_match_reference(spark, bigram_index.index_dir)
    assert n_bi > 0 and n_tri > 0
    bp = bigram_index.bigram_postings_df()
    keys = {r["term"] for r in bp.select("term").distinct().collect()}
    assert "data value" in keys and "value data" in keys
    # every key is a hot×hot pair — no rare term ever enters the sidecar
    assert all(" " in k and "rarex" not in k and "rarey" not in k for k in keys)


def test_bigram_phrase_equals_scan_and_prunes(spark, bigram_index):
    """Bigram-served phrase == scan phrase, and the candidate set is the
    ADJACENCY set (3 docs incl. the dropped-overlong-run one), not the
    6-doc co-occurrence set the plain AND would verify."""
    from pyspark.sql import functions as F

    from edgesearch_spark.functions.textsearch import index_phrase_search, phrase_search

    docs = bigram_index._test_docs
    got = sorted(r["doc_id"] for r in index_phrase_search(bigram_index, "data value").collect())
    want = sorted(r["doc_id"] for r in phrase_search(docs, "data value").collect())
    assert got == want == [0, 4, 5, 7, 9]
    dec = bigram_index._decoded_for(["data value"],
                                    postings_df=bigram_index.bigram_postings_df())
    bigram_cands = dec.select("doc_id").distinct().count()
    from edgesearch_spark.oracle import Query
    and_cands = bigram_index.search_df(Query.make(require=["data", "value"])).count()
    assert bigram_cands == 5 and and_cands >= 8
    assert bigram_cands < and_cands


def test_bigram_phrase_mixed_hot_rare_and_missing(spark, bigram_index):
    from edgesearch_spark.functions.textsearch import index_phrase_search, phrase_search

    docs = bigram_index._test_docs
    for phrase in ("rarex data value", "data value rarey", "value data",
                   "data value pipeline", "data", "the data"):
        got = sorted(r["doc_id"] for r in index_phrase_search(bigram_index, phrase).collect())
        want = sorted(r["doc_id"] for r in phrase_search(docs, phrase).collect())
        assert got == want, phrase
    assert index_phrase_search(bigram_index, "data zz_nope").count() == 0


def test_phrase_fallback_without_sidecar(spark, docs, regex_index):
    """A plain index (no bigram stage) serves the same results through the
    AND-candidates + verify fallback."""
    from edgesearch_spark.functions.textsearch import index_phrase_search, phrase_search

    assert regex_index.bigram_postings_df() is None
    got = sorted(r["doc_id"] for r in index_phrase_search(regex_index, "spark sql").collect())
    want = sorted(r["doc_id"] for r in phrase_search(docs, "spark sql").collect())
    assert got == want == [0, 1, 4]


def test_bigram_refuses_normalizing_builds(spark, tmp_path_factory):
    from edgesearch_spark.build import IndexConfig, build_index

    df = spark.createDataFrame([(0, "getUserName of data")], "doc_id long, content string")
    out = str(tmp_path_factory.mktemp("bigrambad"))
    with pytest.raises(ValueError, match="bigram"):
        build_index(spark, df, out,
                    IndexConfig(bigram_min_df=2, split_identifiers=True),
                    doc_id_col="doc_id", content_col="content")


def test_bigram_two_term_phrase_skips_verify_entirely(spark, bigram_index):
    """For a 2-term hot phrase the bigram postings ARE the phrase result:
    the docs store must never be fetched (monkeypatch-raises), and results
    still equal the scan."""
    from edgesearch_spark.functions.textsearch import index_phrase_search, phrase_search

    orig = bigram_index.fetch_docs_df

    def boom(*a, **kw):
        raise AssertionError("docs store fetched for a pure-bigram 2-term phrase")

    bigram_index.fetch_docs_df = boom
    try:
        got = sorted(r["doc_id"] for r in index_phrase_search(bigram_index, "data value").collect())
    finally:
        bigram_index.fetch_docs_df = orig
    want = sorted(r["doc_id"] for r in phrase_search(bigram_index._test_docs, "data value").collect())
    assert got == want == [0, 4, 5, 7, 9]


def test_bigram_scan_is_term_pruned(spark, bigram_index):
    """The bigram candidates plan must push the pair keys into the sidecar
    parquet scan (file/row-group pruning at 10^12 docs — same posture as
    the main postings table)."""
    df = bigram_index._decoded_for(["data value"],
                                   postings_df=bigram_index.bigram_postings_df())
    plan = df._jdf.queryExecution().executedPlan().toString()
    # a single key folds to EqualTo, multiple to In — both prune
    assert "PushedFilters" in plan and (
        "In(term" in plan or "EqualTo(term," in plan), plan


def test_bigram_sidecar_through_incremental_lifecycle(spark, tmp_path_factory):
    """Segments build their OWN sidecar (per-segment serving, VERDICT r5
    #3): a multi-segment engine routes each pair through every segment
    where it qualifies locally, compaction collapses to one covered
    segment, and deletes stay correct because both plan branches are
    live-filtered."""
    import os

    from edgesearch_spark.build import IndexConfig
    from edgesearch_spark.functions.textsearch import index_phrase_search, phrase_search
    from edgesearch_spark.streaming.incremental import IncrementalIndexer

    root = str(tmp_path_factory.mktemp("bigraminc"))
    cfg = IndexConfig(block_size=8, salt_shift=4, bigram_min_df=3)
    idx = IncrementalIndexer(spark, root, cfg, order_cols=("doc_id",))
    rows = [(i, f"data value row{i}") for i in range(6)] + \
           [(i, f"value and then data {i}") for i in range(6, 10)]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    idx.ingest_batch(df.filter("doc_id < 5"), 0)
    idx.ingest_batch(df.filter("doc_id >= 5"), 1)
    segs = idx.segment_dirs()
    assert len(segs) == 2
    # per-segment sidecars exist now (segments no longer strip the config)
    assert all(os.path.exists(os.path.join(s, "bigram_postings")) for s in segs)
    eng = idx.engine()
    want = sorted(r["doc_id"] for r in phrase_search(eng._docs_df, "data value").collect())
    got = sorted(r["doc_id"] for r in index_phrase_search(eng, "data value").collect())
    assert got == want and len(want) == 6
    # the pair is locally hot in segment 0 (5 'data value' docs) and
    # locally cold in segment 1 ('data value' adjacent only in doc 5)
    plan = eng.last_bigram_plan
    assert plan is not None and plan["covered_segments"]["data value"] >= 1

    idx.compact_in_place()
    eng2 = idx.engine()
    assert len(idx.segment_dirs()) == 1
    assert eng2.bigram_postings_df() is not None  # compacted: sidecar served
    got2 = sorted(r["doc_id"] for r in index_phrase_search(eng2, "data value").collect())
    want2 = sorted(r["doc_id"] for r in phrase_search(eng2._docs_df, "data value").collect())
    assert got2 == want2 and len(got2) == 6

    idx.delete_docs([got2[0]])
    eng3 = idx.engine()
    # deletes no longer force the AND+verify fallback: the plan's exact
    # branch is tombstone-anti-joined, results identical
    got3 = sorted(r["doc_id"] for r in index_phrase_search(eng3, "data value").collect())
    assert got3 == [d for d in got2 if d != got2[0]]
    assert eng3.last_bigram_plan is not None


def test_index_regex_finds_literals_inside_dropped_runs(spark, tmp_path_factory):
    """A >MAX_TERM_BYTES alphanumeric run is dropped from the token stream;
    a literal living only inside it exists in no indexed term, so pure
    dictionary pruning would prove a FALSE empty. The build flags such docs
    per-row in doclens AND indexes the trigrams of dropped runs (stage 6b);
    index_regex_search admits a flagged doc only on trigram evidence —
    matches inside dropped runs come back while flagged docs whose runs
    can't contain the literal stay out of the verify stage."""
    from edgesearch_spark.build import IndexConfig, build_index
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.functions.textsearch import index_regex_search

    rows = [
        (0, "q" * 260 + " abc tail words"),  # 'abc' token AND a dropped run
        (1, "plain other text"),             # neither
        (2, "z" * 300),                      # 'abc' hidden INSIDE a dropped run? no — flag only
        (3, "the abcdef token here"),        # 'abc' inside an indexed term
        (4, "x" * 280 + "abc" + "y" * 280),  # 'abc' only inside a dropped run
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    out = str(tmp_path_factory.mktemp("overlongidx"))
    build_index(spark, df, out, IndexConfig(block_size=8, salt_shift=4),
                doc_id_col="doc_id", content_col="content")
    eng = SearchEngine(spark, out)
    assert eng.stats["has_overlong_runs"] is True
    flagged = sorted(r["doc_id"] for r in eng._overlong_docs_df().collect())
    assert flagged == [0, 2, 4]
    from edgesearch_spark.functions.textsearch import regex_search

    got = sorted(r["doc_id"] for r in index_regex_search(eng, r"abc\w*").collect())
    want = sorted(r["doc_id"] for r in regex_search(df, r"abc\w*").collect())
    assert got == want == [0, 3, 4]
    # dict-impossible + union: a literal in NO term still finds flagged docs
    got2 = sorted(r["doc_id"] for r in index_regex_search(eng, r"xxabcyy").collect())
    assert got2 == sorted(r["doc_id"] for r in regex_search(df, r"xxabcyy").collect())
    # ...and proves empty instantly when the corpus has no dropped runs
    # (covered by test_index_regex_no_literal_falls_back_and_absent_literal_short_circuits)


def test_index_regex_stays_indexed_without_overlong_runs(spark, regex_index):
    """The clean-corpus flag is False and the shortcut stays live: a literal
    matching no dictionary term proves 0 matches without a scan."""
    assert regex_index.stats["has_overlong_runs"] is False
    # stage 6b committed without writing a table (zero extra corpus scan)
    assert regex_index.stats["overlong_trigram_rows"] == 0
    assert regex_index.oltrigrams_df() is None


def test_index_regex_trigram_evidence_bounds_flagged_set(spark, tmp_path_factory):
    """VERDICT r5 'what's wrong #1': on a corpus where MOST docs carry
    dropped overlong runs (the minified-JS/base64 shape), flagged docs are
    admitted as candidates only when their dropped runs hold EVERY trigram
    of a required literal — candidates ≪ flagged set, results identical to
    the scan twin (the pre-sidecar wholesale union would verify all 45
    flagged docs)."""
    from edgesearch_spark.build import IndexConfig, build_index
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.functions.textsearch import index_regex_search

    rows = [(i, "z" * 300 + f" filler{i}") for i in range(40)]          # flagged, no literal
    rows += [(i, "x" * 280 + "needletoken" + "y" * 280) for i in range(40, 45)]  # hidden literal
    rows += [(45, "a needletoken here"), (46, "needletoken again"),
             (47, "plain text"), (48, "more text"), (49, "other stuff")]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    out = str(tmp_path_factory.mktemp("triidx"))
    build_index(spark, df, out, IndexConfig(block_size=8, salt_shift=4),
                doc_id_col="doc_id", content_col="content")
    eng = SearchEngine(spark, out)
    assert eng.stats["overlong_trigram_rows"] > 0
    assert eng._overlong_docs_df().count() == 45

    seen = {}
    orig = eng.fetch_docs_df

    def spy(cands, **kw):
        seen["n"] = cands.count()
        return orig(cands, **kw)

    eng.fetch_docs_df = spy
    try:
        got = sorted(r["doc_id"] for r in
                     index_regex_search(eng, r"needletoken\w*").collect())
    finally:
        eng.fetch_docs_df = orig
    want = sorted(r["doc_id"] for r in
                  regex_search(df, r"needletoken\w*").collect())
    assert got == want == [40, 41, 42, 43, 44, 45, 46]
    assert seen["n"] == 7  # evidence-backed candidates only, not 45


def test_index_regex_without_sidecar_keeps_wholesale_union(spark, tmp_path_factory):
    """An index built with overlong_trigrams=False keeps the (sound,
    superset) wholesale flagged-set union — every flagged doc reaches the
    verify stage, and results still match the scan twin."""
    from edgesearch_spark.build import IndexConfig, build_index
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.functions.textsearch import index_regex_search

    rows = [(0, "z" * 300 + " noise"), (1, "x" * 280 + "needle" + "y" * 280),
            (2, "a needle token"), (3, "plain text")]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    out = str(tmp_path_factory.mktemp("notriidx"))
    build_index(spark, df, out,
                IndexConfig(block_size=8, salt_shift=4, overlong_trigrams=False),
                doc_id_col="doc_id", content_col="content")
    eng = SearchEngine(spark, out)
    assert eng.oltrigrams_df() is None and eng.stats["has_overlong_runs"] is True

    seen = {}
    orig = eng.fetch_docs_df

    def spy(cands, **kw):
        seen["n"] = cands.count()
        return orig(cands, **kw)

    eng.fetch_docs_df = spy
    try:
        got = sorted(r["doc_id"] for r in
                     index_regex_search(eng, r"needle\w*").collect())
    finally:
        eng.fetch_docs_df = orig
    assert got == sorted(r["doc_id"] for r in
                         regex_search(df, r"needle\w*").collect()) == [1, 2]
    assert seen["n"] == 3  # dict hit (doc 2) ∪ WHOLE flagged set {0, 1}


def test_index_regex_trigram_multisegment_and_deletes(spark, tmp_path_factory):
    """Segment trigram sidecars union soundly (global docIDs, corpus-
    independent trigram keys); a clean segment writes no table and the
    union over flagged segments stays complete; deleted docs drop out via
    the tombstone-aware fetch."""
    from edgesearch_spark.build import IndexConfig
    from edgesearch_spark.functions.textsearch import index_regex_search
    from edgesearch_spark.streaming.incremental import IncrementalIndexer

    root = str(tmp_path_factory.mktemp("triinc"))
    idx = IncrementalIndexer(spark, root, IndexConfig(block_size=8, salt_shift=4),
                             order_cols=("doc_id",))
    b1 = spark.createDataFrame(
        [(0, "x" * 280 + "needle" + "y" * 280), (1, "plain one")],
        "doc_id long, content string")
    b2 = spark.createDataFrame(
        [(0, "clean needle doc"), (1, "tidy text")],  # fully clean segment
        "doc_id long, content string")
    idx.ingest_batch(b1, 0)
    idx.ingest_batch(b2, 1)
    eng = idx.engine()
    assert len(idx.segment_dirs()) == 2
    assert eng.oltrigrams_df() is not None
    got = sorted(r["doc_id"] for r in index_regex_search(eng, r"needle\w*").collect())
    assert got == [0, 2]  # global docIDs: seg1 doc 0, seg2 doc 0 -> id 2
    idx.delete_docs([0])
    eng2 = idx.engine()
    got2 = sorted(r["doc_id"] for r in index_regex_search(eng2, r"needle\w*").collect())
    assert got2 == [2]


def test_bigram_pairs_derived_from_positions_byte_identical(spark, bigram_index,
                                                            tmp_path_factory):
    """With IndexConfig.positions the bigram stage derives its pair stream
    from the positional sidecar (no third corpus tokenize, VERDICT r5 #5);
    the resulting sidecar must be BYTE-identical to the tokenize-derived
    one — including across doc 5's dropped >255-byte run, where both
    streams make the surrounding tokens adjacent."""
    from edgesearch_spark.build import IndexConfig, build_index

    out = str(tmp_path_factory.mktemp("bigrampos"))
    ms = build_index(spark, bigram_index._test_docs, out,
                     IndexConfig(block_size=8, salt_shift=4, bigram_min_df=4,
                                 positions=True),
                     doc_id_col="doc_id", content_col="content")
    bg = [m for m in ms if m.stage == "bigrams"]
    assert bg and bg[0].extra["pair_derivation"] == "positions"
    cols = ["term", "salt", "df", "block_first_doc", "block_max_doc",
            "block_count", "block_offset", "block_kind", "payload"]
    a = spark.read.parquet(f"{bigram_index.index_dir}/bigram_postings")
    b = spark.read.parquet(f"{out}/bigram_postings")
    cols = [c for c in cols if c in a.columns]
    ra = sorted(tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                      for v in r) for r in a.select(*cols).collect())
    rb = sorted(tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                      for v in r) for r in b.select(*cols).collect())
    assert ra == rb and len(ra) > 0
    from index_reference import assert_sidecars_match_reference

    assert assert_sidecars_match_reference(spark, out)[0] > 0


@pytest.fixture(scope="module")
def seg_bigram_idx(spark, tmp_path_factory):
    """Two segments, bigram_min_df=4: the pair 'data value' is locally hot
    in segment 0 (both terms df ≥ 4 there, sidecar covers it) and locally
    COLD in segment 1 ('value' df=1 there) yet still ADJACENT in one of its
    docs — the exact shape the per-segment route exists for."""
    from edgesearch_spark.build import IndexConfig
    from edgesearch_spark.streaming.incremental import IncrementalIndexer

    root = str(tmp_path_factory.mktemp("segbigram"))
    idx = IncrementalIndexer(
        spark, root, IndexConfig(block_size=8, salt_shift=4, bigram_min_df=4),
        order_cols=("path",), content_col="content")
    seg_a = [
        ("a0", "data value pipeline"),
        ("a1", "big data value store"),
        ("a2", "data in the value column"),
        ("a3", "the data holds a value"),
        ("a4", "data stream only"),
    ]
    seg_b = [
        ("b0", "data value appears here"),
        ("b1", "data flows"),
        ("b2", "data lake"),
        ("b3", "data mart"),
        ("b4", "other words entirely"),
    ]
    for epoch, rows in enumerate([seg_a, seg_b]):
        idx.ingest_batch(
            spark.createDataFrame(rows, "path string, content string"), epoch)
    return idx


def test_per_segment_bigram_route_matches_scan_and_compacted(
        spark, seg_bigram_idx, tmp_path_factory):
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.functions.textsearch import (index_phrase_search,
                                                       phrase_search)

    eng = seg_bigram_idx.engine()
    docs = eng._docs_df.select("doc_id", "content")
    want = sorted(r["doc_id"] for r in phrase_search(docs, "data value").collect())
    assert len(want) == 3  # a0, a1, b0
    got = sorted(r["doc_id"] for r in
                 index_phrase_search(eng, "data value").collect())
    assert got == want
    # the route: segment 0's sidecar covered the pair, segment 1 fell back
    plan = eng.last_bigram_plan
    assert plan["covered_segments"]["data value"] == 1
    assert plan["fallback_segments"]["data value"] == 1
    # identical to a compacted single-shot index
    out = str(tmp_path_factory.mktemp("segbigram_compact"))
    seg_bigram_idx.compact(out)
    ceng = SearchEngine(spark, out)
    cgot = sorted(r["doc_id"] for r in
                  index_phrase_search(ceng, "data value").collect())
    assert cgot == want


def test_per_segment_bigram_route_3term_and_deletes(spark, seg_bigram_idx):
    from edgesearch_spark.functions.textsearch import (index_phrase_search,
                                                       phrase_search)

    eng = seg_bigram_idx.engine()
    docs = eng._docs_df.select("doc_id", "content")
    for phrase in ["big data value", "data value appears"]:
        want = sorted(r["doc_id"] for r in phrase_search(docs, phrase).collect())
        got = sorted(r["doc_id"] for r in
                     index_phrase_search(eng, phrase).collect())
        assert got == want and len(want) == 1
    # delete one covered-segment match and one fallback-segment match:
    # both branches of the plan honor live-docs
    all_match = sorted(r["doc_id"] for r in
                       index_phrase_search(eng, "data value").collect())
    seg_bigram_idx.delete_docs(all_match[:1] + all_match[-1:])
    live = seg_bigram_idx.engine()
    got = sorted(r["doc_id"] for r in
                 index_phrase_search(live, "data value").collect())
    assert got == all_match[1:-1]
