"""SparkSession factory with the configs this engine assumes.

Local mode for tests/bench; on a real cluster these configs come from
spark-submit. AQE on (runtime re-plan + skew-join), Arrow on (pandas-UDF
hot paths), UTC timezone (DuckDB-oracle comparability).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession


def package_zip() -> str:
    """Zip this package for --py-files-style shipping to executors.
    ``get_spark`` registers it via ``sc.addPyFile`` so UDF closures that
    reference edgesearch_spark modules resolve on Python workers no matter
    the driver's cwd — the same artifact a cluster run passes to
    ``spark-submit --py-files``.

    The zip is named by a hash of its content and moved into place whole
    (``os.replace``), so sessions of two checkouts never write the same
    file and ``addPyFile`` never copies a half-written one. A zip that
    already exists for this content is reused as is."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    members = []
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    members.append((os.path.join("edgesearch_spark", os.path.relpath(full, pkg_dir)),
                                    fh.read()))
    digest = hashlib.sha256()
    for name, data in members:
        digest.update(b"%d:%s\0%d:" % (len(name), name.encode(), len(data)) + data)
    out = os.path.join(tempfile.gettempdir(), f"edgesearch_spark_pyfiles_{digest.hexdigest()[:16]}.zip")
    if os.path.exists(out):
        return out
    fd, tmp = tempfile.mkstemp(suffix=".zip.tmp", dir=os.path.dirname(out))
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for name, data in members:
                zf.writestr(name, data)
        os.chmod(tmp, 0o644)  # mkstemp's 0600 would hide it from other users
        os.replace(tmp, out)
    except BaseException:
        os.unlink(tmp)
        raise
    return out


# glibc malloc returns every >128 KB allocation to the kernel on free
# (mmap/munmap per numpy temporary). The vectorized tokenizer/encoder
# allocate large short-lived arrays per Arrow batch, so with 32 python
# workers the kernel page-fault path serializes the whole postings stage
# (measured on this host: 32-way allocation churn 4.5 → 10.6 GB/s with the
# thresholds raised — heap reuse instead of mmap churn). Exported to local
# python workers via the driver env, and to cluster executors below.
_MALLOC_TUNING = {
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
}


def host_cores() -> int:
    """CPUs this process may run on (``nproc``), not the machine's total."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API (macOS)
        return os.cpu_count() or 1


def host_driver_memory() -> str:
    """Half the host's physical memory, as a ``spark.driver.memory`` value.
    In local mode the driver heap holds every executor too; the other half
    is left to the Python workers and the page cache."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return f"{max(1024, total_mb // 2)}m"


def get_spark(
    app_name: str = "edgesearch_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Local session sized to the host unless told otherwise: ``cores``
    defaults to ``SPARK_GRAFT_CPUS``, else the CPUs this process may use;
    driver memory to ``SPARK_DRIVER_MEMORY``, else half the host's RAM."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or host_cores())
    shuffle_partitions = shuffle_partitions or cores
    for k, v in _MALLOC_TUNING.items():
        os.environ.setdefault(k, v)  # local-mode python daemon inherits this
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or host_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # 10k-row Arrow batches fragment pandas-UDF work into thousands of
        # tiny calls (measured: the posting encoder spent most of its time in
        # per-batch overhead); 128k rows keeps tokenizer input batches well
        # under memory while cutting encoder batch count ~13× (measured a
        # further ~9% off the encode stage vs 64k; 256k was flat)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        # shuffle spill/blocks in shared memory: local-mode shuffles stream
        # through spark.local.dir, and a disk-backed dir makes shuffle I/O a
        # core-count-independent bottleneck (this box: ~780 MB/s disk, 126 GB
        # free tmpfs). Cluster deployments override via SPARK_LOCAL_DIRS.
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIR", "/dev/shm/spark-local"))
    )
    for k, v in _MALLOC_TUNING.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(package_zip())
    return spark


def arrow_frame(spark: SparkSession, table, schema=None) -> DataFrame:
    """A driver-side ``pyarrow.Table`` as a local relation (a
    ``LocalTableScan``: no Spark job), cast to ``schema`` when given. The
    chunks are combined first: PySpark 4.1's ``createDataFrame(pa.Table)``
    silently drops every record batch after an empty one, and a filtered
    read yields empty chunks."""
    return spark.createDataFrame(table.combine_chunks(), schema=schema)


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A driver-side literal table (``rows`` of tuples in ``ddl`` column
    order) as a local relation. Built from a ``pyarrow.Table``, it plans as
    a ``LocalTableScan``: no Spark job and no Python worker, where
    ``createDataFrame(list)`` plans a pickled Python RDD (``ExistingRDD``)
    whose broadcast runs a job through a Python worker. Each column is
    converted to exactly its DDL type, so a ``double`` column carries the
    driver's float64 values bit for bit."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = to_arrow_schema(StructType.fromDDL(ddl))
    cols = list(zip(*rows)) or [()] * len(schema)
    return arrow_frame(spark, pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema))
