"""Independent reference for built index tables.

The build tokenizes and encodes with the Arrow pack pipeline
(arrow_pipeline.py). These helpers decode what it wrote with ``codec`` on
the driver and compare it to the JVM token stream
(``tokenizer.norm_tokens_col`` explode + count, or posexplode for
positions), rebuilt from the stored docs and the build options recorded in
stats.json — no code shared with the build path beyond the codec. The
bigram and overlong-trigram sidecars are checked the same way against
pairs of the JVM ``_tokens_col`` stream and trigrams of the stored
content's overlong runs."""

import re
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

from edgesearch_spark.build import load_stats
from edgesearch_spark.codec import PostingBlocks, decode_all, decode_positions
from edgesearch_spark.tokenizer import MAX_TERM_BYTES, _tokens_col, norm_tokens_col


def _reference_tokens(spark, out):
    """(doc_id, toks array<string>) over the stored docs, normalized the
    way stats.json says the index was built."""
    st = load_stats(out)
    content = st.get("content_col") or "content"
    docs = spark.read.parquet(f"{out}/docs")
    if st.get("split_identifiers"):
        from edgesearch_spark.functions.code import identifier_marked_col

        docs = docs.withColumn(content, identifier_marked_col(content))
    toks = norm_tokens_col(content, st.get("word_map") or None, st.get("field_prefix") or None)
    return st, docs.select("doc_id", toks.alias("toks"))


def _shards(ref, shift):
    """{(term, doc_id): tf} → {(term, salt): (df, cf)}."""
    out: dict = {}
    for (t, d), tf in ref.items():
        df_, cf = out.get((t, d >> shift), (0, 0))
        out[(t, d >> shift)] = (df_ + 1, cf + tf)
    return out


def _decode_postings_table(spark, path, shift, weights):
    """Decode a postings-schema table → ({(term, doc_id): tf},
    {(term, salt): (df, cf)}), checking every block's first/max doc, max tf
    and max tf-weight (``weights(docs, tfs)``) along the way."""
    got: dict = {}
    got_shard: dict = {}
    for r in spark.read.parquet(path).collect():
        pb = PostingBlocks(
            first_doc=np.asarray(r["block_first_doc"], np.int64),
            max_doc=np.asarray(r["block_max_doc"], np.int64),
            counts=np.asarray(r["block_count"], np.int32),
            offsets=np.asarray(r["block_offset"], np.int64),
            max_weight=np.asarray(r["block_max_weight"], np.float32),
            kinds=np.asarray(r["block_kind"], np.uint8),
            payload=bytes(r["payload"]),
        )
        assert (r["term"], r["salt"]) not in got_shard, (r["term"], r["salt"])
        got_shard[(r["term"], r["salt"])] = (r["df"], r["cf"])
        docs, tfs = decode_all(pb)
        heads = np.concatenate([[0], np.cumsum(pb.counts)[:-1]]).astype(np.int64)
        assert np.all(np.diff(docs) > 0) and np.all(docs >> shift == r["salt"])
        assert np.array_equal(docs[heads], pb.first_doc)
        assert np.array_equal(docs[heads + pb.counts - 1], pb.max_doc)
        assert np.array_equal(np.maximum.reduceat(tfs, heads), r["block_max_tf"])
        assert np.array_equal(np.maximum.reduceat(weights(docs, tfs), heads), pb.max_weight), r["term"]
        got.update(zip(zip([r["term"]] * docs.size, docs.tolist()), tfs.tolist()))
    return got, got_shard


def assert_postings_match_reference(spark, out):
    """Decode ``out/postings`` and check it against the JVM token stream:
    the (term, doc_id, tf) triples, per-(term, salt) df/cf, per-term
    term_stats df/cf, doclens dl, and every block's first/max doc, max tf
    and max BM25 tf-weight. Returns the number of triples."""
    st, toks = _reference_tokens(spark, out)
    shift, k1, b, avgdl = st["salt_shift"], st["k1"], st["b"], st["avgdl"]
    dl = {r["doc_id"]: r["dl"] for r in toks.select("doc_id", F.size("toks").alias("dl")).collect()}
    assert dl == {r["doc_id"]: r["dl"] for r in spark.read.parquet(f"{out}/doclens").collect()}
    ref = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in toks.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf")).collect()
    }
    dl_of = np.zeros(max(dl) + 1, np.float64)
    dl_of[list(dl)] = list(dl.values())

    def weights(docs, tfs):
        tf64 = tfs.astype(np.float64)
        return (tf64 / (tf64 + k1 * ((1.0 - b) + (b * dl_of[docs]) / avgdl))).astype(np.float32)

    got, got_shard = _decode_postings_table(spark, f"{out}/postings", shift, weights)
    assert got == ref
    assert got_shard == _shards(ref, shift)

    ref_terms: dict = {}
    for (t, _), (df_, cf) in _shards(ref, shift).items():
        a, c = ref_terms.get(t, (0, 0))
        ref_terms[t] = (a + df_, c + cf)
    ts = {r["term"]: (r["df"], r["cf"]) for r in spark.read.parquet(f"{out}/term_stats").collect()}
    assert ts == ref_terms
    return len(got)


def assert_positions_match_reference(spark, out):
    """Decode ``out/positions`` and check it against JVM
    posexplode(norm_tokens_col): every (term, doc_id) position list and
    per-(term, salt) df. Returns the number of (term, doc_id) lists."""
    st, toks = _reference_tokens(spark, out)
    shift = st["salt_shift"]
    ref: dict = {}
    for r in toks.select("doc_id", F.posexplode("toks").alias("pos", "term")).collect():
        ref.setdefault((r["term"], r["doc_id"]), []).append(r["pos"])
    ref = {k: sorted(v) for k, v in ref.items()}
    ref_df: dict = {}
    for t, d in ref:
        ref_df[(t, d >> shift)] = ref_df.get((t, d >> shift), 0) + 1

    got: dict = {}
    got_df: dict = {}
    for r in spark.read.parquet(f"{out}/positions").collect():
        assert (r["term"], r["salt"]) not in got_df, (r["term"], r["salt"])
        got_df[(r["term"], r["salt"])] = r["df"]
        docs, npos, pos = decode_positions(bytes(r["payload"]), r["df"])
        assert np.all(docs >> shift == r["salt"])
        for d, p in zip(docs.tolist(), np.split(pos, np.cumsum(npos)[:-1])):
            got[(r["term"], d)] = p.tolist()
    assert got == ref
    assert got_df == ref_df
    return len(got)


def assert_sidecars_match_reference(spark, out):
    """Decode ``out/bigram_postings`` and ``out/overlong_trigrams`` and check
    them against references rebuilt from the stored docs: (term, doc_id, tf)
    of every adjacent kept-token pair of ``_tokens_col`` whose two terms
    both have df ≥ bigram_min_df, and of every lowercased trigram of the
    >MAX_TERM_BYTES alphanumeric runs; per-(term, salt) df/cf; block
    metadata; tf-weights all 0. Returns (bigram, trigram) triple counts."""
    st = load_stats(out)
    shift = st["salt_shift"]
    content = st.get("content_col") or "content"

    def zero(docs, tfs):
        return np.zeros(docs.size, np.float32)

    rows = spark.read.parquet(f"{out}/docs").select(
        "doc_id", content, _tokens_col(content).alias("toks")).collect()
    got_bi: dict = {}
    ref_bi: Counter = Counter()
    if st.get("bigram_min_df"):
        df = Counter(t for r in rows for t in set(r["toks"]))
        hot = {t for t, n in df.items() if n >= st["bigram_min_df"]}
        for r in rows:
            ref_bi.update((f"{a} {b}", r["doc_id"]) for a, b in zip(r["toks"], r["toks"][1:])
                          if a in hot and b in hot)
        got_bi, shard = _decode_postings_table(spark, f"{out}/bigram_postings", shift, zero)
        assert got_bi == dict(ref_bi)
        assert shard == _shards(ref_bi, shift)

    run = re.compile(f"[a-zA-Z0-9]{{{MAX_TERM_BYTES + 1},}}")
    ref_tri: Counter = Counter()
    for r in rows:
        for s in run.findall(r[content] or ""):
            s = s.lower()
            ref_tri.update((s[i:i + 3], r["doc_id"]) for i in range(len(s) - 2))
    got_tri: dict = {}
    if st.get("overlong_trigram_rows"):
        got_tri, shard = _decode_postings_table(spark, f"{out}/overlong_trigrams", shift, zero)
        assert len(shard) == st["overlong_trigram_rows"]
        assert shard == _shards(ref_tri, shift)
    if st.get("overlong_trigrams"):
        assert got_tri == dict(ref_tri)
    return len(got_bi), len(got_tri)
