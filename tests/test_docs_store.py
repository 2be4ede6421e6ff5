"""The docs store as a point-read store: written in small zstd row groups
(``build.DOCS_ROWGROUP_ROWS``), read by ``fetch_docs`` through a reader that
keeps decoded row groups in a byte-bounded LRU (``docs_cache_bytes``).

- cached and uncached fetches return the same rows; the LRU never holds
  more than its budget, a hit decodes nothing, an evicted group decodes
  again, and a group larger than the whole budget is never kept
- a scattered page decodes at most one small row group per id, on a small
  and on a 5× larger store
"""

import glob
import shutil

import pyarrow.parquet as pq
import pytest

from edgesearch_spark.build import DOCS_ROWGROUP_ROWS, IndexConfig, build_index
from edgesearch_spark.corpus import generate_corpus
from edgesearch_spark.engine import SearchEngine
from edgesearch_spark.localread import LocalTable

ORDER = ("repo", "path", "commit")


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("docstore600"))
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, generate_corpus(spark, 600, seed=3), out, IndexConfig(),
                order_cols=ORDER)
    return out


def engine(spark, index_dir, cache_bytes):
    """A fresh engine whose docs reader caches ``cache_bytes``."""
    cls = type("Engine", (SearchEngine,), {"docs_cache_bytes": cache_bytes})
    return cls(spark, index_dir)


def groups(reader) -> list[tuple[int, int]]:
    """(min, max) doc_id of every docs row group, in file order."""
    return [b for per_file in reader._key_bounds("doc_id") for b in per_file]


def group_bytes(index_dir) -> int:
    """Decoded bytes of the largest docs row group (all columns)."""
    return max(pf.read_row_group(g).nbytes
               for f in glob.glob(f"{index_dir}/docs/*.parquet")
               for pf in [pq.ParquetFile(f)]
               for g in range(pf.metadata.num_row_groups))


def fetched(eng, page) -> list:
    return sorted(eng.fetch_docs(page).collect())


def test_cached_fetch_equals_uncached(spark, small_index):
    """Repeated, overlapping and empty pages return the same rows with the
    default cache, a tiny one and none."""
    plain = engine(spark, small_index, 0)
    cached = engine(spark, small_index, SearchEngine.docs_cache_bytes)
    tiny = engine(spark, small_index, group_bytes(small_index) * 3 // 2)
    pages = [[5, 130, 299, 480], [5, 130, 299, 480], [130, 131, 590, 5, 5],
             [], [599, 0], list(range(0, 600, 31)), [5, 130, 299, 480]]
    for page in pages:
        want = fetched(plain, page)
        assert sorted(r["doc_id"] for r in want) == sorted(set(page))
        assert fetched(cached, page) == want, page
        assert fetched(tiny, page) == want, page
    assert plain._local_table("docs").cached_bytes == 0


def test_cache_budget_hits_and_evictions(spark, small_index):
    """Under a budget of two row groups the LRU stays within budget; a hit
    leaves ``row_groups_read`` unchanged and a re-read after eviction
    increments it."""
    budget = group_bytes(small_index) * 2
    eng = engine(spark, small_index, budget)
    reader = eng._local_table("docs")
    bounds = groups(reader)
    assert len(bounds) >= 4, bounds
    one_per = [[lo] for lo, _ in bounds]  # one id in each row group

    def fetch(page):
        before = reader.row_groups_read
        fetched(eng, page)
        assert reader.cached_bytes <= budget
        assert reader.cached_bytes == sum(t.nbytes for t in reader._cache.values())
        return reader.row_groups_read - before

    assert fetch(one_per[0]) == 1
    assert fetch(one_per[0]) == 0  # hit
    assert fetch(one_per[0] + one_per[1]) == 1  # one hit, one miss
    for page in one_per[2:]:  # the rest of the store: ≫ the budget
        assert fetch(page) == 1
    assert len(reader._cache) < len(bounds)
    assert fetch(one_per[0]) == 1  # evicted, decoded again
    assert fetch(one_per[0]) == 0


def test_row_group_larger_than_budget_is_never_kept(spark, small_index):
    eng = engine(spark, small_index, 1)
    reader = eng._local_table("docs")
    page = [groups(reader)[0][0]]
    for _ in range(2):
        before = reader.row_groups_read
        rows = fetched(eng, page)
        assert [r["doc_id"] for r in rows] == page
        assert reader.row_groups_read - before == 1
        assert reader.cached_bytes == 0 and not reader._cache


def test_page_decode_stays_flat_as_store_grows(spark, small_index, tmp_path_factory):
    """A scattered 20-id page decodes at most 20 row groups of at most
    DOCS_ROWGROUP_ROWS rows each, on a 600-doc store and on a 3,000-doc
    one: per-page decode does not grow with the store. Every docs column
    chunk is zstd-compressed."""
    big = str(tmp_path_factory.mktemp("docstore3000"))
    build_index(spark, generate_corpus(spark, 3000, seed=3), big, IndexConfig(),
                order_cols=ORDER, stop_after="docs")
    for index_dir, n in ((small_index, 600), (big, 3000)):
        mds = [pq.ParquetFile(f).metadata for f in sorted(glob.glob(f"{index_dir}/docs/*.parquet"))]
        chunks = [md.row_group(g) for md in mds for g in range(md.num_row_groups)]
        assert sum(rg.num_rows for rg in chunks) == n
        assert all(rg.num_rows <= DOCS_ROWGROUP_ROWS for rg in chunks)
        assert {rg.column(c).compression for rg in chunks
                for c in range(rg.num_columns)} == {"ZSTD"}
        reader = LocalTable([f"{index_dir}/docs"])
        page = [(i * n) // 20 + 7 for i in range(20)]  # spread over the whole store
        got = reader.take(["doc_id", "content"], {"doc_id": page})
        assert sorted(got["doc_id"].to_pylist()) == page
        assert reader.row_groups_read <= 20, (n, reader.row_groups_read)
