"""The postings build path (Arrow tokenize → blob shuffle → encode) against
an independent reference: the decoded table must equal the JVM token
stream's (term, doc_id, tf) counts, and the Arrow tokenizer must agree with
the JVM tokenizer row for row."""

import pyarrow as pa
from index_reference import assert_postings_match_reference
from pyspark.sql import functions as F

from edgesearch_spark.arrow_pipeline import (_POSITION_VALUES, _tokenize_batch, _unpack,
                                             tokenize_pos_pack_arrow)
from edgesearch_spark.build import IndexConfig, build_index
from edgesearch_spark.corpus import generate_corpus
from edgesearch_spark.tokenizer import norm_tokens_col, tokenize_pairs

N = 700


def _arrow_pairs(rows, word_map=None, field_prefix=None):
    """The build's Arrow tokenizer on driver rows → sorted (doc_id, term,
    tf, dl) tuples, no Spark job."""
    batch = pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], pa.int64()), pa.array([r[1] for r in rows], pa.string())],
        names=["doc_id", "content"])
    prefix = f"{field_prefix}_" if field_prefix else ""
    got = _tokenize_batch(batch, "doc_id", "content", dict(word_map or {}), prefix)
    if got is None:
        return []
    doc_out, code_out, tf, dl, uniques = got
    return sorted(zip(doc_out.tolist(), [uniques[c] for c in code_out], tf.tolist(), dl.tolist()))


def _arrow_positions(df, word_map=None, field_prefix=None):
    """The build's positions producer (tokenize → pack) on a DataFrame, its
    blobs parsed back → sorted (doc_id, term, pos) tuples."""
    packed = tokenize_pos_pack_arrow(df, "doc_id", "content", n_buckets=4, salt_shift=16,
                                     word_map=word_map, field_prefix=field_prefix)
    blobs = pa.RecordBatch.from_arrays(
        [pa.array([bytes(r["blob"]) for r in packed.collect()], pa.binary())], names=["blob"])
    got = _unpack(iter([blobs]), _POSITION_VALUES)
    if got is None:
        return []
    terms, codes, docs, (pos,) = got
    return sorted(zip(docs.tolist(), terms.take(pa.array(codes)).to_pylist(), pos.tolist()))


def test_pack_postings_match_reference(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pack"))
    build_index(spark, generate_corpus(spark, N, seed=8), out,
                IndexConfig(block_size=16, salt_shift=6),
                order_cols=("repo", "path", "commit"))
    assert assert_postings_match_reference(spark, out) > 1000


def test_pack_postings_match_reference_word_map_field_prefix(spark, tmp_path_factory):
    """word_map/field_prefix builds match the reference, with mapped terms
    merging their counts (util1→helper + literal helper combine)."""
    out = str(tmp_path_factory.mktemp("wm_pack"))
    wmap = {"util1": "helper", "import": "include"}
    build_index(spark, generate_corpus(spark, 300, seed=12), out,
                IndexConfig(word_map=wmap, field_prefix="body"),
                order_cols=("repo", "path", "commit"))
    assert assert_postings_match_reference(spark, out) > 0
    names = {r["term"] for r in spark.read.parquet(f"{out}/term_stats").select("term").collect()}
    assert "body_helper" in names and "body_include" in names
    assert "body_util1" not in names and "body_import" not in names
    assert all(t.startswith("body_") for t in names)


def test_tokenizers_agree(spark):
    docs = generate_corpus(spark, 200, seed=4).withColumn("doc_id", F.monotonically_increasing_id())
    jvm = sorted(tuple(r) for r in tokenize_pairs(docs, "doc_id", "content").collect())
    rows = [(r["doc_id"], r["content"]) for r in docs.select("doc_id", "content").collect()]
    assert jvm == _arrow_pairs(rows)


def test_doc_length_col_matches_tokenizer(spark):
    from edgesearch_spark.tokenizer import _tokens_col, doc_length_col

    rows = [
        (0, "hello world (x) = 12"),
        (1, ""),
        (2, "___"),
        (3, "a" * 300 + " short " + "b" * 255),  # overlong run counts 0; 255-run counts 1
        (4, "tab\tnewline\nmix 42x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    got = {r["doc_id"]: r["dl"] for r in df.select("doc_id", doc_length_col("content").alias("dl")).collect()}
    want = {r["doc_id"]: r["dl"] for r in df.select("doc_id", F.size(_tokens_col("content")).cast("long").alias("dl")).collect()}
    assert got == want == {0: 4, 1: 0, 2: 0, 3: 2, 4: 4}


def test_pandas_tokenizer_wordmap_merges_counts():
    """The build tokenizer's pandas normalization step (factorize + map at
    the unique level) merges the counts of terms mapped together."""
    got = {(d, t): (tf, dl) for d, t, tf, dl in _arrow_pairs(
        [(0, "ms loves Microsoft ms"), (1, "plain text")], word_map={"ms": "microsoft"})}
    assert got[(0, "microsoft")] == (3, 4)  # 2×ms + 1×Microsoft merged
    assert got[(0, "loves")] == (1, 4)
    assert got[(1, "plain")] == (1, 2)


def test_pandas_tokenizer_field_prefix():
    """The build tokenizer's pandas normalization step prefixes every
    term with `{field}_`."""
    got = _arrow_pairs([(0, "alpha beta")], field_prefix="title")
    assert sorted(t for _, t, _, _ in got) == ["title_alpha", "title_beta"]


def test_postings_file_size_budget(spark, tmp_path_factory):
    """B12: maxRecordsPerFile derived from measured bytes/row keeps postings
    and positions files near the configured byte target even when one range
    partition holds far more rows."""
    import os

    out = str(tmp_path_factory.mktemp("sized"))
    build_index(
        spark, generate_corpus(spark, 1200, seed=13), out,
        IndexConfig(target_file_bytes=24 << 10, num_partitions=4, positions=True),
        order_cols=("repo", "path", "commit"),
    )
    for table in ("postings", "positions"):
        sizes = []
        for f in os.listdir(f"{out}/{table}"):
            if f.endswith(".parquet"):
                sizes.append(os.path.getsize(f"{out}/{table}/{f}"))
        assert len(sizes) > 4, f"{table}: budget should split beyond the 4 range partitions"
        # parquet per-file floor is a few KB of footer; assert no file blows
        # past the target by more than the expected overhead factor
        assert max(sizes) < (24 << 10) * 4, (table, sorted(sizes)[-3:])


def test_tokenizer_unicode_null_parity(spark):
    """The Arrow tokenizer's C++ ASCII fast path + Python fallback must be
    row-for-row identical to the JVM token stream (norm_tokens_col explode
    + count) on unicode, null, empty, over-long-token, emoji, Kelvin-sign,
    ligature and final-sigma content, with and without word_map/prefix —
    and so must the positions producer's (doc_id, term, pos) stream against
    posexplode(norm_tokens_col)."""
    rows = [
        (0, "Hello WORLD foo123 bar"),
        (1, "café résumé naïve"),
        (2, "İstanbul STRASSE ß gross"),
        (3, None),
        (4, ""),
        (5, "日本語 text mixed 中文 abc42"),
        (6, "x" * 600 + " short ok"),
        (7, "emoji 🎉 party42"),
        (8, "plain ascii only line two three"),
        (9, "Kelvin 5\u212a run"),  # Kelvin sign lowercases to ASCII k
        (10, "\ufb01le of\ufb03ce"),  # fi / ffi ligatures
        (11, "ΟΔΟΣ σοφός text"),  # final sigma
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    for kw in ({}, dict(word_map={"abc42": "merged", "text": "merged"}, field_prefix="f")):
        toks = df.select("doc_id", norm_tokens_col("content", **kw).alias("toks"))
        dl = toks.select("doc_id", F.size("toks").alias("dl"))
        want = sorted(
            (r["doc_id"], r["term"], r["tf"], r["dl"])
            for r in toks.select("doc_id", F.explode("toks").alias("term"))
            .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
            .join(dl, "doc_id").collect())
        assert _arrow_pairs(rows, **kw) == want, kw
        assert len(want) > 0
        want_pos = sorted(
            (r["doc_id"], r["term"], r["pos"])
            for r in toks.select("doc_id", F.posexplode("toks").alias("pos", "term")).collect())
        assert _arrow_positions(df, **kw) == want_pos, kw
