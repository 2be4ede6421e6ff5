"""Source-code identifier splitting (functions/code.py): boundary rules,
RE2-compatible semantics, stats, and the index composition that makes
'username' find `getUserName`."""

import pytest

from edgesearch_spark.functions.code import code_token_stats, identifier_subtokens_col


@pytest.fixture(scope="module")
def code_docs(spark):
    rows = [
        (0, "def getUserName(self): return self.userName"),
        (1, "class HTTPServer2: pass  # utf8 decoder"),
        (2, "parse_json_block = lambda x: x"),
        (3, "kebab-case-id and SCREAMING_SNAKE_CASE"),
        (4, "plain words only"),
        (5, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, content string").fillna({"content": ""})


def test_identifier_boundaries(spark, code_docs):
    got = {r["doc_id"]: r["t"] for r in code_docs.select(
        "doc_id", identifier_subtokens_col("content").alias("t")).collect()}
    assert got[0] == ["def", "get", "user", "name", "self", "return", "self", "user", "name"]
    assert got[1] == ["class", "http", "server", "2", "pass", "utf", "8", "decoder"]
    assert got[2] == ["parse", "json", "block", "lambda", "x", "x"]
    assert got[3] == ["kebab", "case", "id", "and", "screaming", "snake", "case"]
    assert got[5] == []


def test_code_token_stats_values(spark, code_docs):
    got = {r["doc_id"]: (r["n_subtokens"], r["n_distinct"], r["n_numeric"])
           for r in code_token_stats(code_docs).collect()}
    assert got[0] == (9, 6, 0)
    assert got[1] == (8, 8, 2)
    assert got[5] == (0, 0, 0)


def test_subtoken_index_finds_camelcase(spark, code_docs, tmp_path_factory):
    """The composition a code corpus wants: index the subtoken stream, so a
    single-word query matches inside multi-word identifiers."""
    from pyspark.sql import functions as F

    from edgesearch_spark.build import IndexConfig, build_index
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.oracle import Query

    out = str(tmp_path_factory.mktemp("codeidx"))
    sub = code_docs.select(
        "doc_id", F.array_join(identifier_subtokens_col("content"), " ").alias("content"))
    build_index(spark, sub, out, IndexConfig(block_size=8, salt_shift=4),
                doc_id_col="doc_id", content_col="content")
    eng = SearchEngine(spark, out)
    assert eng.search(Query.make(require=["user"])).doc_ids == [0]
    assert eng.search(Query.make(require=["server"])).doc_ids == [1]
    assert eng.search(Query.make(require=["json"])).doc_ids == [2]
    # the full identifier is NOT a term of the subtoken index
    assert eng.search(Query.make(require=["getusername"])).total == 0


def test_split_identifiers_index_option(spark, code_docs, tmp_path_factory):
    """IndexConfig(split_identifiers=True): the INDEX carries subtoken
    terms (query 'user' finds `getUserName`) while the docs store keeps
    the original content (sha256 invariant untouched); doclens counts
    subtokens, and the postings match the JVM token stream over the
    marked content (the marker transform runs JVM-side before the
    tokenizer)."""
    from pyspark.sql import functions as F

    from edgesearch_spark.build import IndexConfig, build_index, load_stats
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.oracle import Query

    out = str(tmp_path_factory.mktemp("splitids"))
    build_index(spark, code_docs, out,
                IndexConfig(block_size=8, salt_shift=4, split_identifiers=True),
                doc_id_col="doc_id", content_col="content")
    eng = SearchEngine(spark, out)
    assert load_stats(out)["split_identifiers"] is True
    assert eng.search(Query.make(require=["user"])).doc_ids == [0]
    assert eng.search(Query.make(require=["server"])).doc_ids == [1]
    assert eng.search(Query.make(require=["getusername"])).total == 0
    # original content round-trips (store unaffected by the marker pass)
    row = eng.fetch_docs([0]).collect()[0]
    assert row["content"] == "def getUserName(self): return self.userName"
    # doclens = subtoken counts (doc 0 has 9 subtokens, not 6 raw tokens)
    dl = {r["doc_id"]: r["dl"] for r in spark.read.parquet(f"{out}/doclens").collect()}
    assert dl[0] == 9

    # the postings decode to the JVM token stream over the marked content
    from index_reference import assert_postings_match_reference

    assert assert_postings_match_reference(spark, out) > 0


def test_facets_and_suggestions(spark, code_docs, tmp_path_factory):
    """Facets: hit counts by a metadata column, cluster-side. Suggestions:
    nearest dictionary terms by (edit distance, df desc, term)."""
    from pyspark.sql import functions as F

    from edgesearch_spark.build import IndexConfig, build_index
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.oracle import Query

    out = str(tmp_path_factory.mktemp("facetidx"))
    docs = code_docs.withColumn("lang", F.when(F.col("doc_id") < 2, "py").otherwise("md"))
    build_index(spark, docs, out, IndexConfig(block_size=8, salt_shift=4),
                doc_id_col="doc_id", content_col="content")
    eng = SearchEngine(spark, out)
    got = {r["lang"]: r["n_docs"]
           for r in eng.facets_df(Query.make(require=["self"]), ["lang"]).collect()}
    assert got == {"py": 1}  # only doc 0 has 'self'
    sug = eng.suggest_terms("slf", max_distance=1, k=3).collect()
    assert [r["term"] for r in sug] == ["self"] and sug[0]["dist"] == 1


def test_capacity_model_measures_real_index(spark, code_docs, tmp_path_factory):
    """tools/capacity_model.py must read any built index and produce sane,
    auditable constants (payload bits/posting matches the manifest; linear
    projection doubles with target docs)."""
    import sys

    from edgesearch_spark.build import IndexConfig, build_index

    sys.path.insert(0, "tools")
    from capacity_model import measure, project

    out = str(tmp_path_factory.mktemp("capidx"))
    build_index(spark, code_docs, out, IndexConfig(block_size=8, salt_shift=4),
                doc_id_col="doc_id", content_col="content")
    m = measure(out)
    assert m["n_docs"] == 6 and m["total_postings"] > 0
    assert 0 < m["bits_per_posting_payload"] < 64
    rows1 = dict((r[0], r[1]) for r in project(m, 10**9, 10**6))
    assert "driver norms cache" in rows1 and "lazy summaries @ df=1e+06" in rows1
    assert "union count (transient)" in rows1


def test_capacity_model_serving_budget_at_1e12(spark, code_docs, tmp_path_factory):
    """VERDICT r4 #8: the DRIVER-RESIDENT serving structures projected to
    10^12 docs must stay inside a 32 GiB serving-node budget — a failing
    gate if a codec/metadata change silently fattens the per-unit
    constants. Norms are paged (NormsCache LRU, no longer O(n_docs)); the
    per-query lazy summaries for one df=10^11 hot term and the bloom LRU
    are the other resident lines."""
    import sys

    from edgesearch_spark.build import IndexConfig, build_index
    from edgesearch_spark.engine import SearchEngine

    sys.path.insert(0, "tools")
    from capacity_model import measure

    out = str(tmp_path_factory.mktemp("capidx2"))
    build_index(spark, code_docs, out, IndexConfig(block_size=8, salt_shift=4),
                doc_id_col="doc_id", content_col="content")
    m = measure(out)

    GiB = 1 << 30
    norms_resident = min(10**12 * 4,
                         SearchEngine.norms_max_pages * SearchEngine.norms_page_docs * 4)
    # two-level lazy summaries for a df=10^11 term at the production
    # salt_shift=16: df / 2^16 shard rows × ~40 B
    summaries = (10**11 / (1 << 16)) * 40
    bloom_lru = 1024 * 96 * 1024  # bloom.py load_term_bloom max_cached_rows × 96 KiB
    decode_memos = SearchEngine.max_decoded_terms * 16 << 20  # ≤16 MB/term LRU
    docs_cache = SearchEngine.docs_cache_bytes  # decoded docs row groups, LRU
    resident = norms_resident + summaries + bloom_lru + decode_memos + docs_cache
    assert resident < 32 * GiB, f"driver-resident projection {resident/GiB:.1f} GiB"
    # and each line individually stays sane
    assert norms_resident <= 1 * GiB
    assert summaries < 1 * GiB
    # per-unit payload constant hasn't silently fattened either (doclens
    # bytes/doc is parquet-footer-dominated at 6 docs — not asserted here)
    assert m["bits_per_posting_payload"] < 64
