"""Round-8 optimization micro-benchmarks (guide §1.4: noop-sink isolation).

NOT the official bench — bench.py stays frozen for the driver. This file
isolates the operators the round-8 optimization targets so before/after
numbers can be attributed to one change at a time:

  positions [trials]          time ONLY the positions stage (build stages
                              1-5 prebuilt once and reused via resume)
  queries <name...>           time contract queries (count action, labeled)
  hot [trials]                the bench HOT_BATCH (distributed-route paths)
  batch [trials]              the bench batch_bool_1k row
  explain <name>              print a contract query's formatted plan

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default: the CPUs this process may use), BENCH_CORPUS_DOCS (default 500_000).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from edgesearch_spark.build import IndexConfig, build_index  # noqa: E402
from edgesearch_spark.corpus import generate_corpus  # noqa: E402
from edgesearch_spark.session import get_spark, host_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cores())
N_CORPUS = int(os.environ.get("BENCH_CORPUS_DOCS", "500000"))


def _spark():
    return get_spark(app_name="edgesearch-bench-extra", cores=CPUS,
                     shuffle_partitions=CPUS)


def _corpus(spark):
    path = f"/tmp/bench_corpus_{N_CORPUS}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        generate_corpus(spark, N_CORPUS, seed=42).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def cmd_positions(trials: int = 2) -> None:
    """Time the positions stage alone: base stages built once (resume), the
    positions stage re-run per trial by dropping its manifest + output."""
    spark = _spark()
    corpus = _corpus(spark)
    base = f"/tmp/bx_posbase_{CPUS}_{N_CORPUS}"
    build_index(spark, corpus, base, IndexConfig(),
                order_cols=("repo", "path", "commit"), resume=True)
    cfg = IndexConfig(positions=True)
    times = []
    for t in range(trials):
        shutil.rmtree(os.path.join(base, "positions"), ignore_errors=True)
        for f in ("positions.json",):
            try:
                os.remove(os.path.join(base, "_manifest", f))
            except OSError:
                pass
        spark.sparkContext.setJobDescription(f"positions stage trial {t}")
        t0 = time.monotonic()
        build_index(spark, corpus, base, cfg,
                    order_cols=("repo", "path", "commit"), resume=True)
        times.append(round(time.monotonic() - t0, 2))
        spark.sparkContext.setJobDescription(None)
    with open(os.path.join(base, "_manifest", "positions.json")) as f:
        m = json.load(f)
    print(json.dumps({"stage_seconds": times,
                      "rows": m["rows"], "payload_bytes": m["extra"]["payload_bytes"]}))


def cmd_queries(names: list[str], trials: int = 3) -> None:
    from edgesearch_spark.plans.contract import QUERIES, _index_for

    spark = _spark()
    _index_for(spark, SF_DIR)  # untimed setup, like bench.py
    out: dict[str, list[float]] = {}
    for _ in range(trials):
        for name in names:
            fn = QUERIES[name][0]
            spark.sparkContext.setJobDescription(f"q:{name}")
            t0 = time.monotonic()
            fn(spark, SF_DIR).count()
            out.setdefault(name, []).append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))


def cmd_hot(trials: int = 3) -> None:
    """The bench HOT_BATCH verbatim (distributed auto-route paths)."""
    from edgesearch_spark.engine import SearchEngine
    from edgesearch_spark.oracle import Query

    spark = _spark()
    corpus = _corpus(spark)
    out = f"/tmp/bench_idx_{CPUS}_{N_CORPUS}"
    build_index(spark, corpus, out, IndexConfig(),
                order_cols=("repo", "path", "commit"), resume=True)
    hot_df = max(1000, N_CORPUS // 20)
    eng_hot = SearchEngine(spark, out, lazy_min_df=hot_df, hot_route_df=hot_df)
    eng_kernel = SearchEngine(spark, out, lazy_min_df=hot_df, hot_route_df=10**12)
    batch = [
        ("bool_contain_hot", "search", Query.make(contain=["the"], k=50)),
        ("wand_hot_kernel", "wand_fast", Query.make(contain=["the", "util1"], k=50)),
        ("wand_hot_routed", "wand", Query.make(contain=["the"], k=50)),
        ("bm25_hot_require", "bm25", Query.make(require=["the", "import"], k=50)),
    ]
    res: dict[str, list[float]] = {}
    for _t in range(trials):
        eng_hot._cache.clear()
        eng_kernel._cache.clear()
        for name, mode, q in batch:
            e = eng_kernel if mode == "wand_fast" else eng_hot
            e._term_dfs(list(q.require) + list(q.contain) + list(q.exclude))
            spark.sparkContext.setJobDescription(f"hot:{name}")
            t0 = time.monotonic()
            if mode == "search":
                e.search(q)
            elif mode == "bm25":
                e.search_bm25(q)
            elif mode == "wand":
                e.search_bm25_wand(q)
            else:
                e.search_bm25_wand(q, exact_total=False)
            res.setdefault(name, []).append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    print(json.dumps(res))


def cmd_batch(trials: int = 3) -> None:
    """The bench batch_bool_1k row verbatim (1000 queries, one plan)."""
    from edgesearch_spark.plans.batch import batch_search
    from edgesearch_spark.plans.contract import _index_for

    spark = _spark()
    idx_dir = _index_for(spark, SF_DIR)
    bterms = [r["term"] for r in spark.read.parquet(f"{idx_dir}/term_stats")
              .select("term").distinct().limit(2000).collect()]
    bq = [(f"q{i}", [bterms[(2 * i) % len(bterms)]],
           [bterms[(2 * i + 1) % len(bterms)]], []) for i in range(1000)]
    bq_df = spark.createDataFrame(
        bq, "query_id string, require array<string>, contain array<string>, exclude array<string>")
    times = []
    for _ in range(trials):
        spark.sparkContext.setJobDescription("batch_bool_1k")
        t0 = time.monotonic()
        batch_search(spark, idx_dir, bq_df, k=10, scored=True).count()
        times.append(round(time.monotonic() - t0, 3))
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"batch_bool_1k": times}))


def cmd_explain(name: str) -> None:
    from edgesearch_spark.plans.contract import QUERIES

    spark = _spark()
    fn = QUERIES[name][0]
    fn(spark, SF_DIR).explain("formatted")


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "positions":
        cmd_positions(int(sys.argv[2]) if len(sys.argv) > 2 else 2)
    elif cmd == "queries":
        cmd_queries(sys.argv[2:])
    elif cmd == "hot":
        cmd_hot(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    elif cmd == "batch":
        cmd_batch(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    elif cmd == "explain":
        cmd_explain(sys.argv[2])
    else:
        raise SystemExit(f"unknown command {cmd}")
