"""Driver-local key-range reads over index side tables.

The reference answers its control-plane lookups as point reads into
key-sorted chunks, with no query engine in the loop (wasm/chunks.c:56-72).
The side tables here are written key-sorted (doclens by doc_id, the term
bloom by range_id), so a pyarrow key-range filter prunes row groups by
their min/max stats and a read costs zero Spark jobs.

One fallback: when pyarrow has no filesystem for a dir's scheme (e.g.
``hdfs://`` without libhdfs), reads go through Spark's own Hadoop
filesystem instead, at one Spark job per read.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as ds
from pyarrow import fs as pafs
from pyspark.sql import SparkSession
from pyspark.sql import functions as F


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


def _dir_dataset(filesystem: pafs.FileSystem, path: str) -> ds.Dataset | None:
    """The parquet files directly under ``path``; None when the dir is
    absent or holds none."""
    infos = filesystem.get_file_info(
        pafs.FileSelector(path, allow_not_found=True, recursive=False))
    files = sorted(i.path for i in infos
                   if i.type == pafs.FileType.File and i.path.endswith(".parquet"))
    return ds.dataset(files, format="parquet", filesystem=filesystem) if files else None


class LocalTable:
    """The union of the parquet files under ``dirs``, read on the driver.

    Each dir binds its own filesystem (a shared one would resolve a mixed
    local / remote segment list against the wrong filesystem); the child
    datasets are unioned. Listing a remote dir may raise ``OSError`` when
    the store is unreachable."""

    def __init__(self, dirs: list[str], spark: SparkSession | None = None):
        self._dirs = list(dirs)
        self._spark = spark
        self._sdf = None
        located = [_locate(d) for d in self._dirs]
        self._via_spark = None in located
        children = [] if self._via_spark else [
            c for loc in located if (c := _dir_dataset(*loc)) is not None]
        self._dset = (None if not children
                      else children[0] if len(children) == 1 else ds.dataset(children))

    def _spark_df(self):
        if self._sdf is None:
            spark = self._spark or SparkSession.active()
            self._sdf = spark.read.parquet(*self._dirs)
        return self._sdf

    def read(self, columns: list[str], key: str, lo: int, hi: int) -> pa.Table:
        """``columns`` of the rows with ``lo <= key < hi``. Raises
        FileNotFoundError when the dirs hold no parquet at all."""
        if self._via_spark:
            return (self._spark_df()
                    .filter((F.col(key) >= lo) & (F.col(key) < hi))
                    .select(*columns).toArrow())
        if self._dset is None:
            raise FileNotFoundError(f"no parquet under {self._dirs}")
        return self._dset.to_table(
            columns=columns, filter=(ds.field(key) >= lo) & (ds.field(key) < hi))

    def first(self, column: str):
        """``column`` of the first row; None when the table has no rows."""
        if self._via_spark:
            row = self._spark_df().select(column).head()
            return None if row is None else row[0]
        if self._dset is None:
            return None
        t = self._dset.head(1, columns=[column])
        return t[column][0].as_py() if t.num_rows else None
