"""The benchmark's workloads. Each builds its program state in ``setup``
(timed, repeated by the runner), prepares seeded inputs and untimed
reference checks in ``prepare``, and does one timed operation per ``op``
call whose result ``check`` verifies untimed. Only calls into the package's
public functions are timed. In a traced run each workload also runs one
probe of a layer its timed operations do not reach (``trace_probe``):
the batch query plan on the serve index, the dedup and text-search
operators next to the build."""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import statistics
import time

from edgesearch_spark.build import IndexConfig, build_index
from edgesearch_spark.corpus import generate_corpus, generate_corpus_pandas
from edgesearch_spark.engine import SearchEngine
from edgesearch_spark.oracle import BruteForceOracle, Query

from perfbench.inputs import (batch_hit_rows, batch_queries, df_thresholds, operator_docs,
                              operator_literals, serve_queries)
from perfbench.spans import self_times

ORDER = ("repo", "path", "commit")
BATCH_SCHEMA = "query_id string, require array<string>, contain array<string>, exclude array<string>"

# calibrated on a 4-core host: see README.md
BUILD_DOCS = 8_000
SERVE_DOCS = 4_000
SERVE_QUERIES = 5_000
BATCH_QUERIES = 150
BATCH_SIGNATURES = 20
BATCH_K = 10
OPS_DOCS = 3_000


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def rows_digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of tuples of plain values."""
    canon = sorted(repr(tuple(round(v, 4) if isinstance(v, float) else v for v in r))
                   for r in rows)
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _term_dfs(spark, index_dir: str) -> tuple[dict[str, int], list[str]]:
    """(common term → df, singleton terms) from the index's term_stats."""
    rows = spark.read.parquet(f"{index_dir}/term_stats").select("term", "df").collect()
    common = {r["term"]: int(r["df"]) for r in rows if int(r["df"]) > 1}
    rare = sorted(r["term"] for r in rows if int(r["df"]) == 1)
    return common, rare


class Workload:
    name = ""
    min_ops = 3
    warmup_ops = 1

    def __init__(self, spark, run_dir: str, seed: int, tracer, counters):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = tracer
        self.counters = counters
        self.n_setups = 0
        self.detail: dict = {}
        self.check_attempted = 0
        self.check_failed = 0
        self.index_dir = ""
        self.n_docs = 0

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, f"{name}_{self.n_setups}")

    def count_check(self, ok: bool, what: str) -> None:
        self.check_attempted += 1
        if not ok:
            self.check_failed += 1
            print(f"check failed: {what}", flush=True)

    def _materialize_corpus(self, n_docs: int) -> str:
        p = self.path("corpus")
        generate_corpus(self.spark, n_docs, seed=self.seed).write.parquet(p)
        return p

    def setup(self) -> dict:
        """Build fresh program state; returns its timed parts (seconds)."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Untimed operations before timing: code paths compile, workers
        spawn, caches reach the state the timed stream keeps them in."""
        for i in range(self.warmup_ops):
            self.count_check(self.check(i, self.op(i)), f"warm-up operation {i}")

    def prepare(self) -> None:
        pass

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> bool:
        return True

    def finish(self, times: list[float]) -> None:
        """Untimed checks and details after the timed operations."""

    def install_tracing(self) -> None:
        pass

    def layer_metrics(self) -> dict:
        return {}

    def trace_probe(self) -> dict:
        return {}

    def index_bytes_per_doc(self) -> float:
        return dir_bytes(self.index_dir) / self.n_docs

    def _group_jobs(self, spans) -> list[int]:
        return [j for s in spans if "group" in s for j in self.counters.jobs(s["group"])]


# ---------------------------------------------------------------- build


class BuildWorkload(Workload):
    """Full index builds over a corpus materialized to parquet in setup."""

    name = "build"
    # the first builds of a JVM keep getting faster (JIT); two untimed ones
    # leave the timed builds on the flat part
    warmup_ops = 2

    def setup(self) -> dict:
        self.n_setups += 1
        self.corpus, t = _timed(lambda: self._materialize_corpus(BUILD_DOCS))
        self.n_docs = BUILD_DOCS
        return {"corpus.generate_s": t}

    def op(self, i: int):
        out = os.path.join(self.run_dir, f"build_{i}")
        corpus = self.spark.read.parquet(self.corpus)
        if not self.tracer.enabled:
            build_index(self.spark, corpus, out, IndexConfig(), order_cols=ORDER, resume=False)
            return out
        # traced: stage by stage from outside, resuming the same directory
        for stage in ("docs", "stats", "postings", None):
            with self.tracer.span(f"build.{stage or 'tail'}", job_group=True) as rec:
                ms = build_index(self.spark, corpus, out, IndexConfig(), order_cols=ORDER,
                                 resume=True, stop_after=stage)
            rec["stage_metrics"] = {m.stage: m.seconds for m in ms}
        return out

    def check(self, i: int, out) -> bool:
        with open(os.path.join(out, "stats.json")) as f:
            ok = json.load(f)["n_docs"] == self.n_docs
        if self.index_dir:
            shutil.rmtree(out)
        else:
            self.index_dir = out  # kept for the size and bits-per-posting metrics
        return ok

    def finish(self, times: list[float]) -> None:
        self.detail["build_docs_per_s"] = self.n_docs / statistics.median(times)

    def layer_metrics(self) -> dict:
        spans = [s for s in self.tracer.spans if s["name"].startswith("build.")]
        m: dict = {}
        for stage in ("docs", "stats", "postings"):
            m[f"build.{stage}_s"] = statistics.median(
                _dur(s) for s in spans if s["name"] == f"build.{stage}")
        tails = [s for s in spans if s["name"] == "build.tail"]
        for stage in ("terms", "blooms"):
            m[f"build.{stage}_s"] = statistics.median(s["stage_metrics"][stage] for s in tails)
        # cross-check: each outside span against the stage seconds its call reports
        self.detail["build_stage_crosscheck_max_gap_s"] = max(
            abs(_dur(s) - sum(s["stage_metrics"].values())) for s in spans)
        with open(os.path.join(self.index_dir, "_manifest", "postings.json")) as f:
            pm = json.load(f)["extra"]
        m["build.bits_per_posting"] = 8 * pm["payload_bytes"] / pm["total_postings"]
        n_builds = len(tails)
        tot = {"spark_jobs": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for stage in ("docs", "stats", "postings", "tail"):
            ids = self._group_jobs(s for s in spans if s["name"] == f"build.{stage}")
            b = self.counters.stage_bytes(ids)
            m[f"build.{stage}.spark_jobs"] = len(ids) / n_builds
            m[f"build.{stage}.shuffle_write_bytes"] = b["shuffle_write_bytes"] / n_builds
            tot["spark_jobs"] += len(ids)
            tot["shuffle_write_bytes"] += b["shuffle_write_bytes"]
            tot["spill_bytes"] += b["spill_bytes"]
        m.update({f"build.{k}": v / n_builds for k, v in tot.items()})
        return m

    def trace_probe(self) -> dict:
        return OperatorsProbe(self).run()


class OperatorsProbe:
    """One pass over shingle Jaccard, xxhash MinHash, positional phrase and
    index regex on a seeded documents table, each checked against the
    contract's DuckDB SQL (MinHash, which has none, against exact
    duplicates)."""

    PHRASE_SQL_TERMS = ("'stream'", "'table'", "'hash'")
    REGEX_SQL_PATTERN = "merge[a-z ]{0,20}vector"

    def __init__(self, wl: Workload):
        self.wl = wl

    def run(self) -> dict:
        import pandas as pd

        wl, span = self.wl, self.wl.tracer.span
        docs = operator_docs(wl.seed, OPS_DOCS)
        phrase, regex = operator_literals(wl.seed, docs)
        wl.detail.update(ops_docs=len(docs), ops_phrase=phrase, ops_regex=regex)
        docs_path = os.path.join(wl.run_dir, "documents")
        index_dir = os.path.join(wl.run_dir, "documents_index")
        with span("operators.setup"):
            pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
            wl.spark.createDataFrame(pdf).write.parquet(docs_path)
            build_index(wl.spark,
                        wl.spark.read.parquet(docs_path).withColumnRenamed("text", "content"),
                        index_dir, IndexConfig(positions=True), doc_id_col="doc_id")
            engine = SearchEngine(wl.spark, index_dir)
        expected = self._expected(docs, phrase, regex)
        self._pass(engine, docs_path, phrase, regex, expected)  # warm-up
        with span("operators.pass") as rec:
            timed = self._pass(engine, docs_path, phrase, regex, expected)
        m = {f"{k}_s": v for k, v in timed.items()}
        m["operators.pass_s"] = _dur(rec)
        return m

    def _pass(self, engine, docs_path: str, phrase: str, regex: str, expected: dict) -> dict:
        from edgesearch_spark.functions.textsearch import (index_phrase_search_positions,
                                                           index_regex_search)
        from edgesearch_spark.operators.dedup import minhash_lsh_candidates, shingle_jaccard_pairs

        docs = self.wl.spark.read.parquet(docs_path)
        calls = {
            "dedup.shingle_jaccard": lambda: shingle_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=0.5),
            "dedup.minhash_xx": lambda: minhash_lsh_candidates(
                docs, "doc_id", "text", n=3, num_hashes=32, band_size=4, family="xx"),
            "textsearch.phrase_positions": lambda: index_phrase_search_positions(engine, phrase),
            "textsearch.regex": lambda: index_regex_search(engine, regex),
        }
        secs = {}
        for name, call in calls.items():
            with self.wl.tracer.span(name) as rec:
                rows = call().collect()
            secs[name] = _dur(rec)
            if name == "dedup.minhash_xx":
                pairs = {(r["a"], r["b"]) for r in rows}
                ok = expected[name] <= pairs and all(a < b for a, b in pairs)
            else:
                ok = rows_digest(rows) == expected[name]
            self.wl.count_check(ok, name)
        return secs

    def _expected(self, docs, phrase: str, regex: str) -> dict:
        import duckdb
        import pandas as pd

        from edgesearch_spark.plans import contract

        con = duckdb.connect()
        con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))

        def sql(name: str, subs: dict) -> tuple[int, str]:
            q = contract.QUERIES[name][1]
            missing = [k for k in subs if k not in q]
            if missing:
                raise ValueError(f"{name}: literals {missing} not in the contract SQL")
            if subs:  # one pass, so a new literal is never replaced again
                q = re.sub("|".join(map(re.escape, subs)), lambda m: subs[m.group(0)], q)
            return rows_digest(con.execute(q).fetchall())

        terms = [f"'{t}'" for t in phrase.split()]
        out = {
            "dedup.shingle_jaccard": sql("dedup_shingle_jaccard", {}),
            "textsearch.phrase_positions": sql(
                "idx_phrase_positions", dict(zip(self.PHRASE_SQL_TERMS, terms))),
            "textsearch.regex": sql("idx_regex_search", {self.REGEX_SQL_PATTERN: regex}),
        }
        con.close()
        # identical shingle sets collide in every MinHash band
        first: dict[tuple, int] = {}
        dups = set()
        for doc_id, text in docs:
            ts = text.split()
            key = tuple(sorted({" ".join(ts[i:i + 3]) for i in range(len(ts) - 2)}))
            if key in first:
                dups.add((first[key], doc_id))
            first.setdefault(key, doc_id)
        out["dedup.minhash_xx"] = dups
        return out


# ---------------------------------------------------------------- serve


class ServeWorkload(Workload):
    """Closed loop, one client: seeded query → ranked page → fetched docs."""

    name = "serve"
    min_ops = 10
    warmup_ops = 3

    def setup(self) -> dict:
        """Load and warm the engine. The served index is this workload's
        input: it is built once, untimed, and its build is the build
        workload's to measure."""
        self.n_setups += 1
        if not self.index_dir:
            corpus, t_gen = _timed(lambda: self._materialize_corpus(SERVE_DOCS))
            self.index_dir = self.path("index")
            t_build = _timed(lambda: build_index(
                self.spark, self.spark.read.parquet(corpus), self.index_dir, IndexConfig(),
                order_cols=ORDER))[1]
            self.n_docs = SERVE_DOCS
            self.input_parts = {"corpus.generate_s": t_gen, "setup.index_build_s": t_build}
        # each repeat caches the postings afresh, as a new serving process would
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        self.dfs, self.rare = _term_dfs(self.spark, self.index_dir)
        self.lazy_df, self.hot_df = df_thresholds(list(self.dfs.values()))
        self.engine = SearchEngine(self.spark, self.index_dir, lazy_min_df=self.lazy_df,
                                   hot_route_df=self.hot_df).warm()
        return {"engine.warm_s": time.perf_counter() - t0}

    def prepare(self) -> None:
        self.queries = serve_queries(self.seed, self.dfs, self.rare, self.hot_df, SERVE_QUERIES)
        self.routes: list[str] = []
        self.detail.update(lazy_min_df=self.lazy_df, hot_route_df=self.hot_df,
                           vocabulary=len(self.dfs) + len(self.rare))
        # every common term's postings on the driver: a timed query then
        # launches a term-fetch job only for its singleton terms, a share the
        # round fixes, instead of for whichever terms the seed draws first
        self.engine.fetch_terms(sorted(self.dfs))
        self._oracle_check()

    def _oracle_check(self) -> None:
        """One query of every shape, on every surface, against the
        brute-force oracle over the same corpus."""
        pdf = generate_corpus_pandas(self.n_docs, seed=self.seed).sort_values(list(ORDER))
        oracle = BruteForceOracle(list(zip(range(self.n_docs), pdf["content"])))
        first: dict[str, dict] = {}
        for shape, _mode, qd in self.queries:
            first.setdefault(shape, qd)
        eng = self.engine
        for shape, qd in sorted(first.items()):
            q = Query.make(**qd)
            want = oracle.search(q)
            got = eng.search(q)
            self.count_check((got.total, got.continuation, got.doc_ids)
                             == (want.total, want.continuation, want.doc_ids),
                             f"search {shape} {qd}")
            want = oracle.search_bm25(q)
            for surface in (eng.search_bm25, eng.search_bm25_wand):
                got = surface(q)
                self.count_check(
                    (got.total, got.continuation, got.doc_ids)
                    == (want.total, want.continuation, want.doc_ids)
                    and all(abs(a - b) <= 1e-8 for a, b in zip(got.scores, want.scores)),
                    f"{surface.__name__} {shape} {qd}")

    def op(self, i: int):
        _shape, mode, qd = self.queries[i % len(self.queries)]
        res = getattr(self.engine, mode)(Query.make(**qd))
        with self.tracer.span("engine.fetch_docs"):
            rows = self.engine.fetch_docs(res.doc_ids).collect()
        return res, rows, self.engine.last_route

    def check(self, i: int, out) -> bool:
        res, rows, route = out
        self.routes.append(route)
        return sorted(r["doc_id"] for r in rows) == sorted(res.doc_ids)

    def finish(self, times: list[float]) -> None:
        """A sample on the timed index: WAND ranks exactly as exhaustive BM25
        on the driver kernel (a hot union routes both to one plan)."""
        sample = [qd for shape, _mode, qd in self.queries if shape != "union_hot"][:4]
        for qd in sample:
            q = Query.make(**qd)
            a, b = self.engine.search_bm25(q), self.engine.search_bm25_wand(q)
            self.count_check(a.doc_ids == b.doc_ids and a.scores == b.scores, f"wand {qd}")
        self.detail["route_distributed_share"] = self.routes.count("distributed") / len(self.routes)
        self.detail["queries_run"] = len(self.routes)

    def install_tracing(self) -> None:
        import edgesearch_spark.wand as wand

        t = self.tracer
        for attr in ("search", "search_bm25", "search_bm25_wand"):
            t.wrap(SearchEngine, attr, f"engine.{attr}")
        t.wrap(SearchEngine, "fetch_terms", "engine.fetch_terms", job_group=True)
        for attr in ("_search_distributed", "_bm25_distributed"):
            t.wrap(SearchEngine, attr, "engine.distributed")

        def wand_counts(rec, res, args, kwargs):
            rec["blocks_skipped"] = res.blocks_skipped
            rec["docs_scored"] = res.seeded
            # a lazily served term keeps its per-shard block counts private
            rec["n_blocks"] = sum(int(getattr(tp, "n_blocks", None) or tp._snblocks.sum())
                                  for _idf, tp in args[0])

        t.wrap(wand, "wand_topk", "wand.wand_topk", after=wand_counts)

    def layer_metrics(self) -> dict:
        t = self.tracer
        by_op = t.op_spans()
        n_ops = len(by_op)
        st = self_times(t.spans)
        spans = [s for ss in by_op.values() for s in ss]

        def named(*names):
            return [s for s in spans if s["name"] in names]

        def per_op_ms(ss, self_only=False) -> float:
            return 1000 * sum(st[s["id"]] if self_only else _dur(s) for s in ss) / n_ops

        fts = named("engine.fetch_terms")
        wands = named("wand.wand_topk")
        return {
            "engine.fetch_terms_ms": per_op_ms(fts),
            "engine.term_fetch_job_frac": (sum(bool(self.counters.jobs(s["group"])) for s in fts)
                                           / max(1, len(fts))),
            "engine.kernel_ms": per_op_ms(
                named("engine.search", "engine.search_bm25", "engine.search_bm25_wand"),
                self_only=True),
            "engine.distributed_ms": per_op_ms(named("engine.distributed")),
            "wand.wand_topk_ms": per_op_ms(wands),
            "wand.blocks_skipped_frac": (sum(s["blocks_skipped"] for s in wands)
                                         / max(1, sum(s["n_blocks"] for s in wands))),
            "wand.docs_scored": sum(s["docs_scored"] for s in wands) / max(1, len(wands)),
            "engine.fetch_docs_ms": per_op_ms(named("engine.fetch_docs")),
            "engine.spark_jobs_per_query": len(self._group_jobs(spans)) / n_ops,
            "engine.route_distributed_frac": self.routes[-n_ops:].count("distributed") / n_ops,
            **self.input_parts,
        }

    def trace_probe(self) -> dict:
        return BatchProbe(self).run()


class BatchProbe:
    """One ``batch_search(...).count()`` action over a seeded query table on
    the serve index; sampled queries checked against ``search_bm25``."""

    PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                    "FlatMapGroupsInPandas")

    def __init__(self, wl: ServeWorkload):
        self.wl = wl

    def _counted(self, qdf):
        from edgesearch_spark.plans.batch import batch_search

        # groupBy().count() is what DataFrame.count() runs; keeping the frame
        # lets the executed plan be read after the action
        with self.wl.tracer.span("batch.plan", job_group=True) as rec:
            res = batch_search(self.wl.spark, self.wl.index_dir, qdf, k=BATCH_K, scored=True)
        return res, res.groupBy().count(), rec

    def run(self) -> dict:
        from edgesearch_spark.sources.postings import decoded_postings
        from pyspark.sql import functions as F

        wl, span = self.wl, self.wl.tracer.span
        # terms served eagerly (df ≤ lazy_min_df) keep one action at seconds
        dfs = {t: d for t, d in wl.dfs.items() if d <= wl.lazy_df}
        rows = batch_queries(wl.seed, dfs, BATCH_QUERIES, BATCH_SIGNATURES)
        qdf = wl.spark.createDataFrame(rows, BATCH_SCHEMA)
        wl.detail.update(batch_queries=len(rows),
                         batch_signatures=len({(tuple(r), tuple(c)) for _, r, c, _ in rows}),
                         batch_hit_rows=batch_hit_rows(rows, dfs))
        warm = self._counted(qdf)[1].collect()[0][0]
        res, counted, plan_rec = self._counted(qdf)
        with span("batch.action", job_group=True) as act:
            n = counted.collect()[0][0]
        wl.count_check(n == warm and n > 0, "batch count")
        plan = counted._jdf.queryExecution().executedPlan().toString().splitlines()
        with span("postings.decode") as dec:
            vocab = sorted({t for _, r, c, e in rows for t in (*r, *c, *e)})
            decoded_postings(wl.spark, wl.index_dir, terms=vocab).count()
        wl.counters.settle()
        jobs = wl._group_jobs([plan_rec, act])
        sample = rows[:: max(1, len(rows) // 8)][:8]
        got: dict[str, list] = {}
        for r in res.filter(F.col("query_id").isin([s[0] for s in sample])).collect():
            got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
        for qid, req, con, exc in sample:
            want = wl.engine.search_bm25(Query.make(require=req, contain=con, exclude=exc, k=BATCH_K))
            have = sorted(got.get(qid, []))
            wl.count_check([d for _, d, _ in have] == want.doc_ids
                           and all(abs(s - w) <= 1e-6 for (_, _, s), w in zip(have, want.scores)),
                           f"batch {qid}")
        return {
            "batch.action_s": _dur(act),
            "batch.queries_per_s": len(rows) / _dur(act),
            "batch.spark_jobs": len(jobs),
            "batch.exchanges": sum("Exchange" in ln and "Reused" not in ln for ln in plan),
            "batch.python_nodes": sum(any(k in ln for k in self.PYTHON_NODES) for ln in plan),
            "batch.shuffle_write_bytes": wl.counters.stage_bytes(jobs)["shuffle_write_bytes"],
            "postings.decode_s": _dur(dec),
        }


WORKLOADS = {w.name: w for w in (BuildWorkload, ServeWorkload)}
