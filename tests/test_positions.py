"""Positional sidecar (IndexConfig.positions, build stage 7): codec
round-trips, exact phrase / NEAR-slop parity against scan-side twins,
normalized-build soundness (where the bigram sidecar must refuse),
multi-segment union + tombstone visibility, and the verify-free plan
shape (no docs-store scan anywhere in the positional phrase plan)."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from edgesearch_spark.build import IndexConfig, build_index
from edgesearch_spark.engine import SearchEngine
from edgesearch_spark.functions.textsearch import (
    index_near_search,
    index_phrase_search_positions,
    near_search,
    phrase_search,
)

VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "import",
         "return", "self", "def", "stream", "column"]


def _corpus_rows(n=400, seed=3):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(5, 40))]
        if i % 7 == 0:
            k = rng.randint(0, len(words) - 3)
            words[k:k + 3] = ["alpha", "beta", "gamma"]
        rows.append((f"r{i // 50}", f"p{i:04d}", "c0", "py",
                     " ".join(words) + f" tail{i}"))
    return rows


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("posidx") / "idx")
    corpus = spark.createDataFrame(
        _corpus_rows(), "repo string, path string, commit string, lang string, content string")
    build_index(spark, corpus, out,
                IndexConfig(block_size=16, salt_shift=7, positions=True),
                order_cols=("repo", "path", "commit"))
    return out


def test_positions_codec_roundtrip():
    from edgesearch_spark.codec import decode_positions, encode_positions_groups

    rng = np.random.default_rng(11)
    all_docs, all_pos, gstarts, truth = [], [], [], []
    row = 0
    for g in range(80):
        gstarts.append(row)
        nd = int(rng.integers(1, 9))
        docs = np.sort(rng.choice(np.arange(g * 977, g * 977 + 700), nd, replace=False))
        gt = []
        for d in docs:
            k = int(rng.integers(1, 12))
            ps = np.sort(rng.choice(np.arange(0, 500), k, replace=False))
            all_docs.extend([int(d)] * k)
            all_pos.extend(ps.tolist())
            row += k
            gt.append((int(d), ps.tolist()))
        truth.append(gt)
    payloads, nds = encode_positions_groups(
        np.array(all_docs), np.array(all_pos), np.array(gstarts))
    assert len(payloads) == 80
    for g, (pl, nd) in enumerate(zip(payloads, nds)):
        docs, npos, pos = decode_positions(pl, nd)
        got = [(int(d), s.tolist())
               for d, s in zip(docs, np.split(pos, np.cumsum(npos)[:-1]))]
        assert got == truth[g]
    # unsorted input must be rejected, not silently mis-encoded
    with pytest.raises(ValueError):
        encode_positions_groups(np.array([5, 3]), np.array([0, 0]), np.array([0]))
    with pytest.raises(ValueError):
        encode_positions_groups(np.array([5, 5]), np.array([4, 2]), np.array([0]))


def test_positional_phrase_matches_scan_twin(spark, pos_index):
    eng = SearchEngine(spark, pos_index)
    assert eng.stats.get("positions") is True
    docs = eng._docs_df
    for phrase in ("alpha beta gamma", "alpha beta", "alpha beta alpha",
                   "beta gamma delta"):
        got = sorted(r["doc_id"] for r in
                     index_phrase_search_positions(eng, phrase).collect())
        want = sorted(r["doc_id"] for r in phrase_search(docs, phrase).collect())
        assert got == want, phrase
    assert got, "last phrase should have matches"  # non-vacuous suite
    # missing term → proven empty, single term → membership
    assert index_phrase_search_positions(eng, "alpha zz_nope").count() == 0
    one = sorted(r["doc_id"] for r in
                 index_phrase_search_positions(eng, "epsilon").collect())
    want1 = sorted(r["doc_id"] for r in phrase_search(docs, "epsilon").collect())
    assert one == want1


def test_positional_near_matches_scan_twin(spark, pos_index):
    eng = SearchEngine(spark, pos_index)
    docs = eng._docs_df
    nonzero = 0
    for terms, slop in ((["alpha", "gamma", "zeta"], 2),
                        (["alpha", "gamma", "zeta"], 6),
                        (["delta", "import"], 1),
                        (["delta", "import"], 10)):
        got = sorted(r["doc_id"] for r in index_near_search(eng, terms, slop).collect())
        want = sorted(r["doc_id"] for r in near_search(docs, terms, slop).collect())
        assert got == want, (terms, slop)
        nonzero += bool(got)
    assert nonzero >= 2
    # phrase adjacency implies slop = n-1
    ph = set(r["doc_id"] for r in
             index_phrase_search_positions(eng, "alpha beta gamma").collect())
    nr = set(r["doc_id"] for r in
             index_near_search(eng, ["alpha", "beta", "gamma"], 2).collect())
    assert ph <= nr
    with pytest.raises(ValueError):
        index_near_search(eng, ["alpha"], 3)
    with pytest.raises(ValueError):
        index_near_search(eng, ["alpha", "beta"], -1)


def test_positions_sound_on_normalized_build(spark, tmp_path_factory):
    """The sidecar's raison d'être vs bigrams: positions live in the
    NORMALIZED token stream, so phrase/NEAR work on split_identifiers
    builds (where the bigram sidecar must refuse) — 'user name' finds
    getUserName."""
    out = str(tmp_path_factory.mktemp("posnorm") / "idx")
    rows = [("a", f"p{i}", "c", "py",
             f"def getUserName(self): return self.userName or fallback{i}")
            for i in range(20)]
    rows += [("a", f"q{i}", "c", "py", f"unrelated tokens only here {i}")
             for i in range(20)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    build_index(spark, corpus, out,
                IndexConfig(block_size=16, salt_shift=7, positions=True,
                            split_identifiers=True),
                order_cols=("repo", "path", "commit"))
    eng = SearchEngine(spark, out)
    got = sorted(r["doc_id"] for r in
                 index_phrase_search_positions(eng, "user name").collect())
    assert len(got) == 20  # every getUserName doc, none of the others
    near = sorted(r["doc_id"] for r in
                  index_near_search(eng, ["get", "name"], 2).collect())
    assert near == got


def test_positions_resume_adds_stage(spark, tmp_path_factory):
    """resume=True on an index built WITHOUT positions adds only the new
    stage (no rebuild) — the bigram sidecar's lifecycle, stage 7 edition."""
    out = str(tmp_path_factory.mktemp("posresume") / "idx")
    corpus = spark.createDataFrame(
        _corpus_rows(120), "repo string, path string, commit string, lang string, content string")
    build_index(spark, corpus, out, IndexConfig(block_size=16, salt_shift=7),
                order_cols=("repo", "path", "commit"))
    eng0 = SearchEngine(spark, out)
    assert eng0.positions_df() is None
    m = build_index(spark, corpus, out,
                    IndexConfig(block_size=16, salt_shift=7, positions=True),
                    order_cols=("repo", "path", "commit"), resume=True)
    assert [x.stage for x in m] == ["positions"]
    eng = SearchEngine(spark, out)
    got = sorted(r["doc_id"] for r in
                 index_phrase_search_positions(eng, "alpha beta gamma").collect())
    want = sorted(r["doc_id"] for r in
                  phrase_search(eng._docs_df, "alpha beta gamma").collect())
    assert got == want and got


def test_positions_multisegment_union_and_deletes(spark, tmp_path_factory):
    """Per-segment positional sidecars union soundly (positions key on
    GLOBAL docIDs), and results honor live-docs semantics: deleted docs
    drop out of positional phrase/NEAR results immediately."""
    from edgesearch_spark.streaming.incremental import IncrementalIndexer

    root = str(tmp_path_factory.mktemp("posseg"))
    cfg = IndexConfig(block_size=16, salt_shift=7, positions=True)
    idx = IncrementalIndexer(spark, root, cfg, order_cols=("path",),
                             content_col="content")
    rows = _corpus_rows(240, seed=9)
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    idx.ingest_batch(df.filter(F.col("path") < "p0120"), 0)
    idx.ingest_batch(df.filter(F.col("path") >= "p0120"), 1)
    eng = idx.engine()
    assert eng.positions_df() is not None
    got = sorted(r["doc_id"] for r in
                 index_phrase_search_positions(eng, "alpha beta gamma").collect())
    want = sorted(r["doc_id"] for r in
                  phrase_search(eng._docs_df, "alpha beta gamma").collect())
    assert got == want and got
    # spans both segments
    assert got[0] < 120 <= got[-1]
    victims = got[:2]
    idx.delete_docs(victims)
    live = idx.engine()
    got2 = sorted(r["doc_id"] for r in
                  index_phrase_search_positions(live, "alpha beta gamma").collect())
    assert got2 == [d for d in got if d not in victims]
    nr = sorted(r["doc_id"] for r in
                index_near_search(live, ["alpha", "gamma"], 4).collect())
    assert not (set(victims) & set(nr))


def test_positions_per_segment_mixed_coverage(spark, tmp_path_factory):
    """Per-segment positional serving (VERDICT r6 #3): one segment built
    WITHOUT positions (ingested before the config enabled them) no longer
    disables the sidecar for the whole index — covered segments serve
    positions-exact, the uncovered one is served by the AND+verify union
    branch, and results are identical to the scan-side twins across
    phrase / NEAR / ordered slop. Deletes stay honored on both branches."""
    from edgesearch_spark.functions.textsearch import (
        index_phrase_slop,
        near_search,
        phrase_slop_search,
    )
    from edgesearch_spark.streaming.incremental import IncrementalIndexer

    root = str(tmp_path_factory.mktemp("posmix"))
    idx = IncrementalIndexer(
        spark, root, IndexConfig(block_size=16, salt_shift=7, positions=False),
        order_cols=("path",), content_col="content")
    rows = _corpus_rows(240, seed=9)
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    idx.ingest_batch(df.filter(F.col("path") < "p0120"), 0)
    idx.cfg = IndexConfig(block_size=16, salt_shift=7, positions=True)
    idx.ingest_batch(df.filter(F.col("path") >= "p0120"), 1)
    eng = idx.engine()
    assert eng.positions_df() is None  # total-coverage surface stays off
    pos, uncov = eng.positions_plan()
    assert pos is not None and uncov is not None
    assert eng.last_positions_plan == {"covered_segments": 1,
                                       "fallback_segments": 1}

    got = sorted(r["doc_id"] for r in
                 index_phrase_search_positions(eng, "alpha beta gamma").collect())
    want = sorted(r["doc_id"] for r in
                  phrase_search(eng._docs_df, "alpha beta gamma").collect())
    assert got == want and got
    assert got[0] < 120 <= got[-1]  # both segments contribute

    nr = sorted(r["doc_id"] for r in
                index_near_search(eng, ["alpha", "gamma"], 4).collect())
    nr_want = sorted(r["doc_id"] for r in
                     near_search(eng._docs_df, ["alpha", "gamma"], 4).collect())
    assert nr == nr_want and nr[0] < 120 <= nr[-1]

    sl = sorted(r["doc_id"] for r in
                index_phrase_slop(eng, "alpha gamma", 1).collect())
    sl_want = sorted(r["doc_id"] for r in
                     phrase_slop_search(eng._docs_df, "alpha gamma", 1).collect())
    assert sl == sl_want and sl

    # one victim per branch: covered-segment and fallback-segment results
    victims = [got[0], got[-1]]
    idx.delete_docs(victims)
    live = idx.engine()
    got2 = sorted(r["doc_id"] for r in
                  index_phrase_search_positions(live, "alpha beta gamma").collect())
    assert got2 == [d for d in got if d not in victims]


def test_positional_phrase_plan_never_touches_docs_store(spark, pos_index):
    """The whole point (VERDICT r5 next #1): the positional phrase plan has
    NO docs-store scan — no verify join, no fetch. Every FileScan in the
    optimized plan reads the positions sidecar (or nothing), never the
    docs parquet."""
    eng = SearchEngine(spark, pos_index)
    plan = index_phrase_search_positions(
        eng, "alpha beta gamma")._jdf.queryExecution().executedPlan().toString()
    assert "/docs" not in plan
    assert "positions" in plan
    # and the sidecar scan is pruned by the term filter (pushdown reaches
    # the parquet source)
    assert "PushedFilters: [" in plan and "term" in plan.split("PushedFilters:")[1][:200]


def test_positions_pack_matches_reference(spark, tmp_path_factory):
    """The positional sidecar decodes to exactly the JVM
    posexplode(norm_tokens_col) stream — on a corpus mixing ascii/unicode
    content, a word_map, a field_prefix, overlong runs (dropped, shifting
    later positions) and multiple salt shards (the normalization+position
    interactions the pack tokenizer implements)."""
    from index_reference import assert_positions_match_reference

    rng = random.Random(17)
    rows = []
    for i in range(160):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(3, 30))]
        if i % 5 == 0:
            words.insert(rng.randint(0, len(words)), "ms")  # word_map hit
        if i % 11 == 0:
            words.insert(rng.randint(0, len(words)), "naïve-Grüße")  # unicode row
        if i % 13 == 0:
            words.append("x" * 300)  # overlong run: dropped, shifts positions
        rows.append(("r", f"p{i:03d}", "c", "py", " ".join(words)))
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    out = str(tmp_path_factory.mktemp("pospack") / "idx")
    build_index(spark, corpus, out,
                IndexConfig(block_size=16, salt_shift=5, positions=True,
                            word_map={"ms": "microsoft"}, field_prefix="body"),
                order_cols=("repo", "path", "commit"))
    assert assert_positions_match_reference(spark, out) > 0


def test_positions_fallback_normalized_mixed_coverage(spark, tmp_path_factory):
    """ADVICE r7 high: the per-segment scan-side fallback must rebuild the
    NORMALIZED token stream (word_map + split_identifiers recorded in
    stats), or uncovered-segment matches silently vanish on normalized
    mixed-coverage builds. Compare a mixed-coverage engine against a
    full-coverage engine over the same corpus — equality proves the
    fallback branch serves the normalized stream."""
    from edgesearch_spark.functions.textsearch import index_phrase_slop
    from edgesearch_spark.streaming.incremental import IncrementalIndexer

    rows = [("r", f"p{i:03d}", "c", "py",
             f"the getUserName helper returns ms userName value {i}")
            for i in range(60)]
    rows += [("r", f"q{i:03d}", "c", "py", f"unrelated filler text {i}")
             for i in range(60)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    cfg = dict(block_size=16, salt_shift=7, word_map={"ms": "microsoft"},
               split_identifiers=True)
    engines = {}
    for mode in ("mixed", "full"):
        root = str(tmp_path_factory.mktemp(f"posnorm_{mode}"))
        idx = IncrementalIndexer(
            spark, root, IndexConfig(positions=(mode == "full"), **cfg),
            order_cols=("path",), content_col="content")
        idx.ingest_batch(df.filter(F.col("path") < "p030"), 0)
        idx.cfg = IndexConfig(positions=True, **cfg)
        idx.ingest_batch(df.filter((F.col("path") >= "p030") | (F.col("path") >= "q")), 1)
        engines[mode] = idx.engine()
    assert engines["mixed"].positions_plan()[1] is not None  # genuinely mixed
    assert engines["full"].positions_plan()[1] is None
    for surface in (
        lambda e: index_phrase_search_positions(e, "user name"),
        lambda e: index_near_search(e, ["microsoft", "name"], 6),
        lambda e: index_phrase_slop(e, "get name", 2),
    ):
        got = sorted(r["doc_id"] for r in surface(engines["mixed"]).collect())
        want = sorted(r["doc_id"] for r in surface(engines["full"]).collect())
        assert got == want and got, (got[:5], want[:5])
