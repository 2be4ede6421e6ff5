"""SparkSession factory with the configs this engine assumes, and the
hand-off of driver Arrow tables to Spark.

Local mode for tests/bench; on a real cluster these configs come from
spark-submit. AQE on (runtime re-plan + skew-join), Arrow on (pandas-UDF
hot paths), UTC timezone (DuckDB-oracle comparability).

``arrow_frame`` (and ``local_frame`` on top of it) turns a driver-side
``pyarrow.Table`` into a local relation. With a ``StructType`` schema it
runs ``createDataFrame``'s Arrow path in 2 JVM calls, where
``createDataFrame`` makes 21. Per session it caches the bound
``PythonSQLUtils.readArrowStreamFromFile`` and ``toDataFrame`` members,
the JVM session, ``arrowMaxRecordsPerBatch`` and ``arrowUseLargeVarTypes``;
per schema, its JSON and Arrow schema. ``createDataFrame`` runs instead
when there is no schema, when the schema holds a timestamp or date, when
I/O encryption is on, or when those members are missing (found out once
per session).
"""

from __future__ import annotations

import functools
import hashlib
import os
import tempfile
import weakref
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


class _Handoff:
    """One session's JVM handles for ``arrow_frame``: the two bound
    ``PythonSQLUtils`` members (looked up once, so no reflection call runs
    per frame), the JVM session, and the two Arrow settings read from its
    conf when first used."""

    __slots__ = ("jsession", "read_stream", "to_frame", "chunk_rows", "large_types")

    def __init__(self, spark: SparkSession):
        from py4j.java_gateway import JavaMember

        self.read_stream, self.to_frame = _sql_utils_members(spark)
        # a class py4j cannot find resolves to a JavaPackage, not an error
        if not (isinstance(self.read_stream, JavaMember) and isinstance(self.to_frame, JavaMember)):
            raise AttributeError("PythonSQLUtils Arrow hand-off members not found")
        self.jsession = spark._jsparkSession
        conf = spark._jconf
        self.chunk_rows = conf.arrowMaxRecordsPerBatch()
        self.large_types = conf.arrowUseLargeVarTypes()


def _sql_utils_members(spark: SparkSession):
    """The bound JVM members ``createDataFrame``'s Arrow path calls."""
    utils = spark._jvm.PythonSQLUtils
    return utils.readArrowStreamFromFile, utils.toDataFrame


# SparkSession → its _Handoff, or None once the fast path is known to be
# unusable in it (internals missing, or I/O encryption on)
_HANDOFFS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _handoff(spark: SparkSession) -> _Handoff | None:
    h = _HANDOFFS.get(spark, False)
    if h is False:
        from py4j.protocol import Py4JError

        h = None
        # with I/O encryption PySpark sends the stream over an authenticated
        # socket rather than write plain data to disk; leave that to it
        if not spark.sparkContext._encryption_enabled:
            try:
                h = _Handoff(spark)
            except (AttributeError, Py4JError):
                pass
        _HANDOFFS[spark] = h
    return h


def _has_time(dt) -> bool:
    """Whether ``dt`` holds a timestamp or date anywhere: PySpark localizes
    those to the session time zone on the way in."""
    from pyspark.sql.types import (ArrayType, DateType, MapType, StructType,
                                   TimestampNTZType, TimestampType)

    if isinstance(dt, (TimestampType, TimestampNTZType, DateType)):
        return True
    if isinstance(dt, StructType):
        return any(_has_time(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _has_time(dt.elementType)
    if isinstance(dt, MapType):
        return _has_time(dt.keyType) or _has_time(dt.valueType)
    return False


@functools.lru_cache(maxsize=64)
def _schema_plan(schema, large_types: bool):
    """``(schema JSON, Arrow schema to cast to)`` for a ``StructType``, or
    None when it needs PySpark's time-zone step."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if _has_time(schema):
        return None
    return schema.json(), to_arrow_schema(
        schema, error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=large_types)


def arrow_frame(spark: SparkSession, table, schema=None) -> DataFrame:
    """A driver-side ``pyarrow.Table`` as a local relation (a
    ``LocalTableScan``: no Spark job), cast to ``schema`` when given. The
    chunks are combined first: PySpark 4.1's ``createDataFrame(pa.Table)``
    silently drops every record batch after an empty one, and a filtered
    read yields empty chunks.

    Given a ``StructType``, this is ``createDataFrame``'s Arrow path in two
    JVM calls: write the batches to a temp file, ``readArrowStreamFromFile``,
    ``toDataFrame``. Per session it caches the two bound ``PythonSQLUtils``
    members, the JVM session, ``arrowMaxRecordsPerBatch`` and
    ``arrowUseLargeVarTypes`` (read once: a later change to either conf is
    not seen); per schema, its JSON and Arrow schema. ``createDataFrame``
    itself runs instead when ``schema`` is None, when the schema holds a
    timestamp or date (it localizes those to the session time zone), when
    I/O encryption is on, or when the installed PySpark lacks those
    members."""
    from pyspark.sql.types import StructType

    table = table.combine_chunks()
    h = _handoff(spark) if isinstance(schema, StructType) else None
    plan = _schema_plan(schema, h.large_types) if h is not None else None
    if plan is None:
        return spark.createDataFrame(table, schema=schema)
    from pyspark.sql.pandas.serializers import ArrowStreamSerializer

    schema_json, arrow_schema = plan
    batches = table.cast(arrow_schema).to_batches(max_chunksize=h.chunk_rows)
    fd, path = tempfile.mkstemp(dir=spark.sparkContext._temp_dir)
    try:
        with os.fdopen(fd, "wb") as fh:
            ArrowStreamSerializer().dump_stream(batches, fh)
        jiter = h.read_stream(path)  # reads the whole file before returning
    finally:
        os.unlink(path)
    df = DataFrame(h.to_frame(jiter, schema_json, h.jsession), spark)
    df._schema = schema
    return df


@functools.lru_cache(maxsize=64)
def _ddl_schema(ddl: str):
    """``(StructType, Arrow schema)`` of a DDL column list."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(ddl)
    return struct, to_arrow_schema(struct)


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A driver-side literal table (``rows`` of tuples in ``ddl`` column
    order) as a local relation. Built from a ``pyarrow.Table``, it plans as
    a ``LocalTableScan``: no Spark job and no Python worker, where
    ``createDataFrame(list)`` plans a pickled Python RDD (``ExistingRDD``)
    whose broadcast runs a job through a Python worker. Each column is
    converted to exactly its DDL type, so a ``double`` column carries the
    driver's float64 values bit for bit."""
    import pyarrow as pa

    struct, schema = _ddl_schema(ddl)
    cols = list(zip(*rows)) or [()] * len(schema)
    return arrow_frame(spark, pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema), struct)
