"""Readers for the reference's build-input file formats.

edgesearch ingests two flat NUL-delimited streams (reference README.md:91-96):
  * documents file — one JSON payload per document, '\\0'-terminated; the
    docID is the 0-based position in the stream (src/data/documents.rs:20-30);
  * document-terms file — '\\0'-terminated terms; an *empty* term ends the
    current document (src/data/document_terms.rs:32-62).

Both formats are positional, so parallel ingestion must reconstruct global
positions: we read with a custom Hadoop record delimiter ('\\0') — records
split across HDFS-style block boundaries are handled by TextInputFormat —
and recover the global record index with the same two-pass
count-per-partition + prefix-sum pattern as docids.py. docID assignment is
then exact stream position (documents) / running count of empty records
(document-terms), matching the reference byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame


def _records_with_position(spark: SparkSession, path: str) -> DataFrame:
    """NUL-delimited records + exact global position, computed scalably
    (zipWithIndex does the per-partition count + offset dance internally)."""
    conf = {"textinputformat.record.delimiter": "\x00"}
    rdd = spark.sparkContext.newAPIHadoopFile(
        path,
        "org.apache.hadoop.mapreduce.lib.input.TextInputFormat",
        "org.apache.hadoop.io.LongWritable",
        "org.apache.hadoop.io.Text",
        conf=conf,
    ).map(lambda kv: kv[1])
    indexed = rdd.zipWithIndex().map(lambda rv: (rv[1], rv[0]))
    return spark.createDataFrame(indexed, "pos long, record string")


def read_documents_file(spark: SparkSession, path: str) -> DataFrame:
    """documents file → (doc_id, content). docID = stream position.

    The reference treats payloads as opaque bytes (it never parses the
    JSON — src/data/documents.rs:27); we keep them as strings. Only the
    *trailing* empty record (the file-final '\\0' artifact) is EOF and
    dropped; a mid-stream double-NUL is an empty-payload document with its
    own docID, exactly as the reference reader yields it
    (src/data/documents.rs:20-30)."""
    from pyspark import StorageLevel

    recs = _records_with_position(spark, path).persist(StorageLevel.MEMORY_AND_DISK)
    # positions are 0..n-1 contiguous (zipWithIndex), so the last position is
    # count-1 — the count doubles as the cache-materializing action; the
    # downstream read reuses the persisted records instead of re-scanning
    n = recs.count()
    if n == 0:
        return recs.select(F.col("pos").alias("doc_id"), F.col("record").alias("content"))
    out = (
        recs.filter(~((F.col("record") == "") & (F.col("pos") == n - 1)))
        .select(F.col("pos").alias("doc_id"), F.col("record").alias("content"))
    )
    out._docid_cache = recs  # keep a handle so callers can unpersist
    return out


def read_document_terms_file(spark: SparkSession, path: str) -> DataFrame:
    """document-terms file → (doc_id, term) pairs.

    An empty record closes the current document (src/data/document_terms.rs:50-52),
    so a term's docID = number of empty records strictly before it. That
    running count is a prefix sum over stream position — computed with a
    range-partitioned cumulative sum (no single-partition window):
    partition-local cumsum + broadcast per-partition offsets."""
    recs = _records_with_position(spark, path)
    flagged = recs.withColumn("is_end", (F.col("record") == "").cast("long"))
    n_part = spark.sparkContext.defaultParallelism
    from pyspark import StorageLevel

    ranged = (
        flagged.repartitionByRange(n_part, "pos")
        .sortWithinPartitions("pos")
        .withColumn("__pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    per_part = {
        r["__pid"]: r["s"]
        for r in ranged.groupBy("__pid").agg(F.sum("is_end").alias("s")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(per_part):
        offsets.append((pid, acc))
        acc += per_part[pid]
    off_df = local_frame(spark, offsets or [(0, 0)], "__pid int, __base long")
    from pyspark.sql import Window

    w = Window.partitionBy("__pid").orderBy("pos")
    out = (
        ranged.withColumn("__local", F.sum("is_end").over(w) - F.col("is_end"))
        .join(F.broadcast(off_df), "__pid")
        .withColumn("doc_id", F.col("__base") + F.col("__local"))
        .filter((F.col("record") != "") & (F.col("is_end") == 0))
        .select("doc_id", F.col("record").alias("term"))
    )
    out._docid_cache = ranged
    return out


def write_documents_file(df: DataFrame, local_path: str, content_col: str = "content",
                         order_col: str = "doc_id") -> None:
    """Export a docs table back to the reference's NUL-delimited format
    (driver-side collect — the format is inherently sequential; intended
    for interop/testing, not 100 TB exports)."""
    rows = df.select(order_col, content_col).orderBy(order_col).collect()
    with open(local_path, "wb") as f:
        for r in rows:
            f.write(r[content_col].encode("utf-8") + b"\x00")
