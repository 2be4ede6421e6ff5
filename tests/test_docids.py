"""docID assignment: dense, unique, deterministic across parallelism.

Regression: repartitionByRange re-samples boundaries per action; without the
materialization barrier in assign_doc_ids this produced duplicate docIDs at
20k docs / 32 partitions (caught by the postings encoder's strictly-
increasing check)."""

from pyspark.sql import functions as F

from edgesearch_spark.corpus import generate_corpus
from edgesearch_spark.docids import assign_doc_ids


def _ids(spark, n_docs, n_part):
    corpus = generate_corpus(spark, n_docs, seed=11, num_partitions=8)
    out = assign_doc_ids(corpus, ("repo", "path", "commit"), num_partitions=n_part)
    rows = out.select("doc_id", "repo", "path").collect()
    out._docid_cache.unpersist()
    return rows


def test_dense_unique_and_order_correct(spark):
    rows = _ids(spark, 5000, 32)
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == list(range(5000))
    by_key = sorted(rows, key=lambda r: (r["repo"], r["path"]))
    assert [r["doc_id"] for r in by_key] == list(range(5000))


def test_deterministic_across_parallelism(spark):
    a = {(r["repo"], r["path"]): r["doc_id"] for r in _ids(spark, 2000, 4)}
    b = {(r["repo"], r["path"]): r["doc_id"] for r in _ids(spark, 2000, 16)}
    assert a == b


def test_existing_doc_id_passthrough(spark):
    from edgesearch_spark.build import build_index  # noqa: F401  (import sanity)

    df = spark.range(100).select(F.col("id").alias("doc_id"), F.lit("x y z").alias("content"))
    assert df.count() == 100


def test_doc_id_follows_order_under_recompute(spark):
    """ADVICE (medium): the per-partition rank is read off
    monotonically_increasing_id, which trusts that rows stream in sorted
    partition order. Drop the cached frame before the action so every
    partition is recomputed: each doc's doc_id must still be its rank
    under order_cols, not just dense."""
    order_cols = ("repo", "path", "commit")
    corpus = generate_corpus(spark, 3000, seed=5, num_partitions=8)
    out = assign_doc_ids(corpus, order_cols, num_partitions=16)
    out._docid_cache.unpersist(blocking=True)
    rows = out.select("doc_id", *order_cols).collect()
    ranked = sorted(rows, key=lambda r: tuple(r[c] for c in order_cols))
    assert [r["doc_id"] for r in ranked] == list(range(3000))
