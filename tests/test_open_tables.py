"""Opening an index: every index table's Spark frame takes its schema from
the parquet footers (``localread.LocalTable.frame``), so engines open with
zero Spark jobs, and segments whose tables differ in columns open as the
columns they share."""

import os
import re
import shutil

import pytest
from pyspark.errors import AnalysisException

from conftest import jobs_run
from edgesearch_spark.build import IndexConfig
from edgesearch_spark.corpus import CORPUS_SCHEMA, generate_corpus
from edgesearch_spark.engine import SearchEngine
from edgesearch_spark.localread import LocalTable
from edgesearch_spark.oracle import Query
from edgesearch_spark.streaming.incremental import IncrementalIndexer, MultiSegmentEngine

N = 240
CFG = IndexConfig(block_size=16, salt_shift=5)
QUERIES = [
    Query.make(require=["import", "return"], k=20),
    Query.make(require=["license"], contain=["util3"], exclude=["error"], k=20),
    Query.make(contain=["util1", "helper2", "the"], k=15),
]


@pytest.fixture(scope="module")
def segments(spark, tmp_path_factory):
    """Two segments of one streamed corpus."""
    root = str(tmp_path_factory.mktemp("open_idx"))
    indexer = IncrementalIndexer(spark, root, CFG)
    rows = generate_corpus(spark, N, seed=23).orderBy("repo", "path", "commit").collect()
    for epoch, lo in enumerate((0, N // 2)):
        indexer.ingest_batch(spark.createDataFrame(rows[lo : lo + N // 2], CORPUS_SCHEMA), epoch)
    return indexer.segment_dirs()


def test_engines_open_with_zero_jobs(spark, segments):
    single, jobs = jobs_run(spark, lambda: SearchEngine(spark, segments[0]))
    assert jobs == 0
    multi, jobs = jobs_run(spark, lambda: MultiSegmentEngine(spark, segments))
    assert jobs == 0
    for eng in (single, multi):
        for frame in (eng._doclens_df, eng._overlong_docs_df):
            df, jobs = jobs_run(spark, frame)
            assert df is not None and jobs == 0, frame


def _rewrite_without(spark, path: str, column: str, keys: list[str]) -> None:
    """Rewrite a table through Spark without ``column``, as a segment
    written before the column existed would be."""
    tmp = path + "_rewrite"
    (spark.read.parquet(path).drop(column).repartition(1)
     .sortWithinPartitions(*keys).write.parquet(tmp))
    shutil.rmtree(path)
    os.rename(tmp, path)


def test_mixed_schema_union_keeps_shared_columns(spark, segments, tmp_path):
    old = [str(tmp_path / os.path.basename(s)) for s in segments]
    for s, o in zip(segments, old):
        shutil.copytree(s, o)
    # the second segment lists after the first, whose files carry every column
    _rewrite_without(spark, f"{old[1]}/doclens", "ol", ["doc_id"])
    _rewrite_without(spark, f"{old[1]}/postings", "block_max_tf", ["term", "salt"])

    new = MultiSegmentEngine(spark, segments)
    mixed, jobs = jobs_run(spark, lambda: MultiSegmentEngine(spark, old))
    assert jobs == 0
    assert mixed._postings_df.columns == [
        c for c in new._postings_df.columns if c != "block_max_tf"]
    assert mixed._local_table("doclens").frame().columns == ["doc_id", "dl"]
    assert not mixed._has_max_tf and new._has_max_tf
    assert mixed._overlong_docs_df() is None
    for q in QUERIES:
        assert mixed.search_bm25(q) == new.search_bm25(q), q


def test_missing_table_dir_raises_when_opened(spark, segments, tmp_path):
    bare = tmp_path / "bare"
    bare.mkdir()
    shutil.copy(f"{segments[0]}/stats.json", bare / "stats.json")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        SearchEngine(spark, str(bare))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        LocalTable([f"{segments[0]}/docs", str(bare / "docs")], spark).frame()


def test_no_bare_parquet_read_in_package():
    """Index tables open through ``LocalTable.frame``; a bare
    ``spark.read.parquet`` runs a schema-inference job. Source-data reads
    (the contract's input tables, the Iceberg/parquet corpus source) are
    not index tables."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "edgesearch_spark")
    allowed = {"localread.py", os.path.join("plans", "contract.py"),
               os.path.join("sources", "iceberg.py")}
    bare = []
    for root, _, files in os.walk(pkg):
        for name in files:
            rel = os.path.relpath(os.path.join(root, name), pkg)
            if name.endswith(".py") and rel not in allowed:
                with open(os.path.join(root, name)) as f:
                    bare += [f"{rel}:{i}" for i, line in enumerate(f, 1)
                             if re.search(r"\.read\s*\.parquet\(", line)]
    assert not bare, bare
