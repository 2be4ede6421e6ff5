"""Driver-local key reads over index tables.

The reference answers its lookups as point reads into key-sorted chunks,
with no query engine in the loop (wasm/chunks.c:56-72). The index tables
here are written key-sorted (docs and doclens by doc_id, postings by
(term, salt), the term bloom by range_id), so each parquet footer's
per-row-group min/max of the key column says which row groups can hold a
wanted key. The reader reads each file's footer once; a read decodes
only the row groups whose range can hold a wanted key and filters their
rows on the driver, with zero Spark jobs. It uses no ``pyarrow.dataset`` scanner, whose
per-read state grew the driver's peak RSS about six times as much as this
reader does over the same 200 page reads.

The docs store is the one table read by point lookups with scattered keys
(a BM25 page's ids): it is written in small zstd row groups
(``build.DOCS_ROWGROUP_ROWS``), and its reader keeps an LRU of decoded row
groups (``cache_bytes``), so a page decodes only the groups that hold its
ids and a repeated or overlapping page decodes none.

The same footers give the table's Spark frame (``LocalTable.frame``) its
schema: Spark stores its row schema in every file it writes, so opening an
index table runs no schema-inference job.

One fallback: when pyarrow has no filesystem for a dir's scheme (e.g.
``hdfs://`` without libhdfs), reads go through Spark's own Hadoop
filesystem instead, at one Spark job per read.
"""

from __future__ import annotations

import bisect
import json
import os
from collections import OrderedDict
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# footer key of the row schema Spark writes into every parquet file (the
# field its own schema inference reads)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _locate(path: str) -> tuple[pafs.FileSystem, str] | None:
    """(filesystem, path on it) for one dir; None when pyarrow has no
    filesystem for its scheme."""
    if "://" not in path or path.startswith("file://"):
        return pafs.LocalFileSystem(), os.path.abspath(path.removeprefix("file://"))
    # pyarrow speaks s3://, not Hadoop's s3a:// alias
    uri = "s3://" + path[len("s3a://"):] if path.startswith("s3a://") else path
    try:
        return pafs.FileSystem.from_uri(uri)
    except (OSError, ValueError):  # e.g. hdfs:// without libhdfs
        return None


def _parquet_files(filesystem: pafs.FileSystem, path: str) -> list[pq.ParquetFile]:
    """The parquet files directly under ``path`` in name order, or the
    file ``path`` itself, footers read; [] when the dir is absent or holds
    none."""
    if filesystem.get_file_info(path).type == pafs.FileType.File:
        return [pq.ParquetFile(path, filesystem=filesystem)]
    infos = filesystem.get_file_info(
        pafs.FileSelector(path, allow_not_found=True, recursive=False))
    return [pq.ParquetFile(i.path, filesystem=filesystem)
            for i in sorted(infos, key=lambda i: i.path)
            if i.type == pafs.FileType.File and i.path.endswith(".parquet")]


def _bounds(pf: pq.ParquetFile, column: str) -> list[tuple | None]:
    """Per-row-group (min, max) of ``column`` from the footer; None where
    the footer has no usable stats (that row group is always read)."""
    md = pf.metadata
    leaf = next(i for i in range(md.num_columns) if md.schema.column(i).path == column)
    out: list[tuple | None] = []
    for g in range(md.num_row_groups):
        try:
            st = md.row_group(g).column(leaf).statistics
            out.append((st.min, st.max) if st is not None and st.has_min_max else None)
        except (UnicodeDecodeError, ValueError):  # e.g. a truncated UTF-8 bound
            out.append(None)
    return out


def _spark_schema(files: list[pq.ParquetFile]) -> StructType | None:
    """The Spark row schema of the union of ``files``, from their footers:
    the columns every file has, in first-file order, nullable where any
    file has them nullable (a segment written before a column existed
    lacks it; segments written from different inputs may differ in
    nullability). None when there are no files or a footer lacks Spark's
    schema."""
    raws = dict.fromkeys((pf.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY) for pf in files)
    if not raws or None in raws:
        return None
    schemas = [StructType.fromJson(json.loads(r)) for r in raws]
    shared = set.intersection(*(set(s.names) for s in schemas))
    nullable = {f.name for s in schemas for f in s.fields if f.nullable}
    return StructType([StructField(f.name, f.dataType, f.name in nullable, f.metadata)
                       for f in schemas[0].fields if f.name in shared])


class LocalTable:
    """The union of the parquet files under ``dirs`` (each a dir, or one
    parquet file), read on the driver or opened as a Spark frame.

    Each dir binds its own filesystem (a shared one would resolve a mixed
    local / remote segment list against the wrong filesystem). The file
    list and footers are read at construction; listing a remote dir may
    raise ``OSError`` when the store is unreachable. ``row_groups_read``
    counts the row groups decoded (test-asserted).

    ``cache_bytes`` > 0 keeps decoded row groups in an LRU keyed by (file,
    row group, columns read) and bounded by their ``Table.nbytes``; a hit
    decodes nothing and does not count in ``row_groups_read``, and a row
    group larger than the whole budget is decoded but never kept."""

    def __init__(self, dirs: list[str], spark: SparkSession | None = None,
                 cache_bytes: int = 0):
        self._dirs = list(dirs)
        self._spark = spark
        self._sdf = None
        located = [_locate(d) for d in self._dirs]
        self._via_spark = None in located
        self._files = [] if self._via_spark else [
            pf for loc in located for pf in _parquet_files(*loc)]
        self._bounds: dict[str, list[list[tuple | None]]] = {}
        self.row_groups_read = 0
        self.cache_bytes = cache_bytes
        self._cache: OrderedDict[tuple, pa.Table] = OrderedDict()
        self.cached_bytes = 0

    def frame(self) -> DataFrame:
        """The table as a Spark frame, with the schema ``_spark_schema``
        merges from the footers: opening it runs no Spark job. A dir
        pyarrow cannot open, no files at all (a missing dir then raises
        here, as Spark does), or a footer without Spark's schema leaves the
        schema to Spark's inference, one job."""
        if self._sdf is None:
            spark = self._spark or SparkSession.active()
            schema = None if self._via_spark else _spark_schema(self._files)
            reader = spark.read if schema is None else spark.read.schema(schema)
            self._sdf = reader.parquet(*self._dirs)
        return self._sdf

    def _key_bounds(self, column: str) -> list[list[tuple | None]]:
        if column not in self._bounds:
            self._bounds[column] = [_bounds(pf, column) for pf in self._files]
        return self._bounds[column]

    def _scan(self, columns: list[str], keep: dict, mask) -> pa.Table:
        """``columns`` of the rows ``mask(table)`` selects, decoding only
        the row groups whose bounds pass every ``keep[column](lo, hi)``."""
        bounds = {c: self._key_bounds(c) for c in keep}
        read = list(dict.fromkeys([*columns, *keep]))
        parts = []
        for f, pf in enumerate(self._files):
            for g in range(pf.metadata.num_row_groups):
                if all(b[f][g] is None or keep[c](*b[f][g]) for c, b in bounds.items()):
                    t = self._row_group(f, pf, g, read)
                    parts.append(t.filter(mask(t)).select(columns))
        # segments written from different inputs may differ in nullability
        if not parts:
            return self._empty(columns)
        return pa.concat_tables(parts, promote_options="default")

    def _row_group(self, f: int, pf: pq.ParquetFile, g: int, read: list[str]) -> pa.Table:
        """Row group ``g`` of file ``f``, ``read`` columns, through the LRU:
        decoded on a miss, then kept while the newest entries fit in
        ``cache_bytes``."""
        key = (f, g, tuple(read))
        t = self._cache.get(key)
        if t is not None:
            self._cache.move_to_end(key)
            return t
        t = pf.read_row_group(g, columns=read, use_threads=False)
        self.row_groups_read += 1
        if 0 < t.nbytes <= self.cache_bytes:
            self._cache[key] = t
            self.cached_bytes += t.nbytes
            while self.cached_bytes > self.cache_bytes:
                self.cached_bytes -= self._cache.popitem(last=False)[1].nbytes
        return t

    def _empty(self, columns: list[str]) -> pa.Table:
        if not self._files:
            raise FileNotFoundError(f"no parquet under {self._dirs}")
        return self._files[0].schema_arrow.empty_table().select(columns)

    def read(self, columns: list[str], key: str, lo: int, hi: int) -> pa.Table:
        """``columns`` of the rows with ``lo <= key < hi``. Raises
        FileNotFoundError when the dirs hold no parquet at all."""
        if self._via_spark:
            return (self.frame()
                    .filter((F.col(key) >= lo) & (F.col(key) < hi))
                    .select(*columns).toArrow())
        return self._scan(
            columns, {key: lambda mn, mx: mx >= lo and mn < hi},
            lambda t: pc.and_(pc.greater_equal(t[key], lo), pc.less(t[key], hi)))

    def take(self, columns: list[str], isin: dict[str, list]) -> pa.Table:
        """``columns`` of the rows whose every ``isin`` column holds one of
        its listed values; each stored row once, however often a value is
        listed. Raises FileNotFoundError when the dirs hold no parquet."""
        want = {c: sorted(set(v)) for c, v in isin.items()}
        if self._via_spark:
            return (self.frame()
                    .filter(reduce(lambda a, b: a & b,
                                   [F.col(c).isin(v) for c, v in want.items()]))
                    .select(*columns).toArrow())

        def holds(vals):  # does [mn, mx] contain one of the sorted vals?
            def keep(mn, mx):
                i = bisect.bisect_left(vals, mn)
                return i < len(vals) and vals[i] <= mx
            return keep

        def mask(t):
            return reduce(pc.and_, [pc.is_in(t[c], value_set=pa.array(v, type=t[c].type))
                                    for c, v in want.items()])

        if not all(want.values()):
            return self._empty(columns)
        return self._scan(columns, {c: holds(v) for c, v in want.items()}, mask)

    def first(self, column: str):
        """``column`` of the first row; None when the table has no rows."""
        if self._via_spark:
            row = self.frame().select(column).head()
            return None if row is None else row[0]
        for pf in self._files:
            for g in range(pf.metadata.num_row_groups):
                if pf.metadata.row_group(g).num_rows:
                    self.row_groups_read += 1
                    t = pf.read_row_group(g, columns=[column], use_threads=False)
                    return t[column][0].as_py()
        return None
