"""``session.arrow_frame``'s cached hand-off of a driver Arrow table to Spark.

- a warmed page fetch makes at most 10 py4j calls (2 to build the frame)
  and runs no Spark job
- the fast path equals ``createDataFrame`` in rows and schema: the docs
  schema, an empty table, an empty first chunk, more rows than one Arrow
  batch, nulls, and every ``local_frame`` DDL type (doubles bit for bit)
- the installed PySpark still has the two JVM members the path calls
- ``createDataFrame`` runs instead when the members are missing, when the
  schema holds a timestamp or date, and when no schema is given
"""

import datetime
import shutil
import struct
import threading

import pyarrow as pa
import pytest
from py4j.protocol import Py4JError
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from conftest import jobs_run
from edgesearch_spark import session
from edgesearch_spark.build import IndexConfig, build_index
from edgesearch_spark.corpus import generate_corpus
from edgesearch_spark.engine import SearchEngine
from edgesearch_spark.session import arrow_frame, local_frame


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("handoffidx"))
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, generate_corpus(spark, 200, seed=5), out, IndexConfig(),
                order_cols=("repo", "path", "commit"))
    return SearchEngine(spark, out)


@pytest.fixture
def fresh_handoff(spark):
    """Forget the session's cached hand-off before and after the test."""
    session._HANDOFFS.pop(spark, None)
    yield
    session._HANDOFFS.pop(spark, None)


def py4j_calls(spark, action):
    """(action's result, py4j commands it sent to the JVM). py4j's finalizer
    thread releases dead Java references through the same client whenever
    it likes; those commands are not the action's and are not counted."""
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    me = threading.get_ident()
    n = 0

    def counted(*args, **kwargs):
        nonlocal n
        n += threading.get_ident() == me
        return orig(*args, **kwargs)

    client.send_command = counted
    try:
        out = action()
    finally:
        del client.send_command
    return out, n


def fast_path_off(monkeypatch, spark):
    """Make the cached hand-off fail the test if it is used."""
    def used(*_):
        raise AssertionError("took the fast path")

    h = session._handoff(spark)
    assert h is not None
    monkeypatch.setattr(h, "read_stream", used)


def assert_same(spark, tbl, schema):
    """arrow_frame equals createDataFrame in rows, row order and schema."""
    fast = arrow_frame(spark, tbl, schema)
    ref = spark.createDataFrame(tbl.combine_chunks(), schema=schema)
    assert fast.schema == ref.schema
    rows = fast.collect()
    assert rows == ref.collect()
    return rows


PAGE = [3, 17, 40, 41, 42, 77, 90, 101, 102, 110, 120, 133, 140, 150, 151, 160, 170, 180, 190, 199]


def test_page_fetch_makes_few_jvm_calls_and_no_job(spark, eng):
    for _ in range(3):
        eng.fetch_docs(PAGE).collect()
    rows, calls = py4j_calls(spark, lambda: eng.fetch_docs(PAGE).collect())
    assert sorted(r["doc_id"] for r in rows) == PAGE
    assert calls <= 10, calls
    _, jobs = jobs_run(spark, lambda: eng.fetch_docs(PAGE).collect())
    assert jobs == 0
    tbl = eng._local_table("docs").take(eng._docs_df.columns, {"doc_id": PAGE})
    _, calls = py4j_calls(spark, lambda: arrow_frame(spark, tbl, eng._docs_df.schema))
    assert calls == 2  # readArrowStreamFromFile, toDataFrame


def test_docs_schema_and_empty_table(spark, eng):
    schema = eng._docs_df.schema
    tbl = eng._local_table("docs").take(eng._docs_df.columns, {"doc_id": PAGE})
    assert len(assert_same(spark, tbl, schema)) == len(PAGE)
    empty = eng._local_table("docs").take(eng._docs_df.columns, {"doc_id": []})
    assert empty.num_rows == 0
    assert assert_same(spark, empty, schema) == []
    assert assert_same(spark, tbl.slice(0, 0), schema) == []


@pytest.mark.parametrize("ddl", ["x long", None], ids=["fast", "fallback"])
def test_rows_after_an_empty_first_or_middle_chunk(spark, ddl):
    t = pa.table({"x": pa.chunked_array([[], [1, 2], [], [3, 4]], type=pa.int64())})
    schema = ddl and StructType.fromDDL(ddl)
    rows, jobs = jobs_run(spark, arrow_frame(spark, t, schema).collect)
    assert [r["x"] for r in rows] == [1, 2, 3, 4] and jobs == 0


def test_more_rows_than_one_batch(spark, monkeypatch):
    h = session._handoff(spark)
    monkeypatch.setattr(h, "chunk_rows", 3)
    tbl = pa.table({"a": pa.array(range(10), pa.int64()),
                    "b": pa.array([f"s{i}" for i in range(10)])})
    rows = assert_same(spark, tbl, StructType.fromDDL("a long, b string"))
    assert [r["a"] for r in rows] == list(range(10))


def test_nulls(spark):
    schema = StructType.fromDDL("a long, b string, c array<string>, d double, e int")
    tbl = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(
            [[1, None, 3], [None, "x", None], [["p", None], None, []],
             [None, 1.5, -2.25], [None, None, 7]],
            to_arrow_schema(schema))],
        schema=to_arrow_schema(schema))
    rows = assert_same(spark, tbl, schema)
    assert rows[1]["a"] is None and rows[1]["c"] is None and rows[0]["c"] == ["p", None]


DOUBLES = [0.0, -0.0, 0.1 + 0.2, 5e-324, 1.7976931348623157e308, -1e-300,
           float("inf"), float("-inf"), float("nan"), 2.0 ** -1074 * 3, 1 / 3]


def double_bits(rows, col):
    return [struct.pack("<d", r[col]) for r in rows]


def test_local_frame_ddl_types_match_create_dataframe(spark):
    ddl = "a long, b int, c string, d array<string>, e double"
    data = [(2**62 + i, -(2**31) + i, f"t{i}", ["x", "y"][: i % 3], v)
            for i, v in enumerate(DOUBLES)]
    arrow = to_arrow_schema(StructType.fromDDL(ddl))
    parent = spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(zip(*data), arrow)], schema=arrow))
    got = local_frame(spark, data, ddl)
    assert got.schema == parent.schema
    rows, want = got.collect(), parent.collect()
    assert [r[:4] for r in rows] == [r[:4] for r in want]
    # NaN != NaN as a value; compare every double by its bits
    assert double_bits(rows, "e") == double_bits(want, "e") == [struct.pack("<d", v) for v in DOUBLES]
    assert local_frame(spark, [], ddl).collect() == []


def test_installed_pyspark_has_the_handoff_members(spark):
    """The fast path calls two PySpark internals; an upgrade that drops or
    re-types them must fail here, not fall back unnoticed."""
    jvm = spark._jvm
    cls = jvm.java.lang.Class.forName("org.apache.spark.sql.api.python.PythonSQLUtils")
    static = jvm.java.lang.reflect.Modifier.isStatic
    sigs = {(m.getName(), tuple(p.getName() for p in m.getParameterTypes()),
             m.getReturnType().getName())
            for m in cls.getMethods() if static(m.getModifiers())}
    assert ("readArrowStreamFromFile", ("java.lang.String",), "scala.collection.Iterator") in sigs
    assert ("toDataFrame", ("scala.collection.Iterator", "java.lang.String",
                            "org.apache.spark.sql.SparkSession"),
            "org.apache.spark.sql.Dataset") in sigs
    assert session._handoff(spark) is not None


class _NoSuchClass:
    """What py4j returns for a class it cannot find: a package."""


@pytest.mark.parametrize("lookup", ["raises", "not_a_member"])
def test_missing_members_fall_back(spark, monkeypatch, fresh_handoff, lookup):
    def members(_spark):
        if lookup == "raises":
            raise Py4JError("PythonSQLUtils.toDataFrame does not exist in the JVM")
        return _NoSuchClass(), _NoSuchClass()

    monkeypatch.setattr(session, "_sql_utils_members", members)
    tbl = pa.table({"a": pa.array([1, 2, None], pa.int64())})
    assert [r["a"] for r in assert_same(spark, tbl, StructType.fromDDL("a long"))] == [1, 2, None]
    assert session._HANDOFFS[spark] is None  # remembered: no second lookup
    monkeypatch.setattr(session, "_sql_utils_members", None)
    assert_same(spark, tbl, StructType.fromDDL("a long"))


def test_timestamp_and_date_columns_fall_back(spark, monkeypatch):
    fast_path_off(monkeypatch, spark)
    ts = [datetime.datetime(2024, 3, 1, 12, 30, 5, 123456), None]
    dates = [datetime.date(1999, 12, 31), datetime.date(2024, 2, 29)]
    tbl = pa.table({"t": pa.array(ts, pa.timestamp("us")), "d": pa.array(dates, pa.date32()),
                    "a": pa.array([[ts[0]], []], pa.list_(pa.timestamp("us")))})
    for ddl in ("t timestamp, d date, a array<timestamp>", "t timestamp_ntz, d date, a array<timestamp_ntz>"):
        assert_same(spark, tbl, StructType.fromDDL(ddl))
    assert_same(spark, tbl.select(["d"]), StructType.fromDDL("d date"))


def test_no_schema_falls_back(spark, monkeypatch):
    fast_path_off(monkeypatch, spark)
    tbl = pa.table({"a": pa.array([1, 2], pa.int64()), "b": pa.array(["x", None])})
    fast = arrow_frame(spark, tbl)
    ref = spark.createDataFrame(tbl)
    assert fast.schema == ref.schema and fast.collect() == ref.collect()
