"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {build,serve} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One ``local[nproc]`` Spark session; every
corpus, index and Spark scratch file lives under a per-run directory that
is deleted at the end. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it (``perfbench-detail``) records the host,
versions, input sizes and checks; a traced run also writes its spans and
per-layer table under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3


def _host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal not in /proc/meminfo")


def start_spark(run_dir: str, cores: int):
    """Session sized to the host, with all scratch space under ``run_dir``."""
    from edgesearch_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # the driver's temp files (package zip, Arrow spill) and Spark's local dirs
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["SPARK_LOCAL_DIR"] = os.path.join(run_dir, "local")
    mem_mb = max(1024, min(4096, _host_memory_mb() // 6))
    return get_spark(app_name="perfbench", cores=cores, shuffle_partitions=cores, extra_conf={
        "spark.driver.memory": f"{mem_mb}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(wl, tracer, seconds: float, first_op: int, min_ops: int) -> dict:
    """Closed loop: one operation after another until ``seconds`` have
    passed and at least ``min_ops`` ran. Checks run outside the clock."""
    times, failed, i = [], 0, first_op
    deadline = time.monotonic() + seconds
    while time.monotonic() < deadline or i - first_op < min_ops:
        tracer.op = i
        try:
            t0 = time.perf_counter()
            with tracer.span("op", job_group=True):
                out = wl.op(i)
            dt = time.perf_counter() - t0
            ok = wl.check(i, out)
        except Exception:
            traceback.print_exc()
            ok = False
        if ok:
            times.append(dt)
        else:
            failed += 1
        i += 1
    tracer.op = None
    return {"times": times, "attempted": i - first_op, "failed": failed}


def end_to_end(phase: dict, setup_s: float, wl) -> dict:
    ts = phase["times"]
    return {
        "op_p50_ms": 1000 * statistics.median(ts),
        "setup_s": setup_s,
        "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "index_bytes_per_doc": wl.index_bytes_per_doc(),
    }


def op_tail(ts: list[float]) -> dict:
    from perfbench.stats import summarize

    s = summarize([1000 * t for t in ts])
    return {"ops": s["n"], "op_tail_p": s.get("tail_p"), "op_tail_ms": s.get("tail")}


def span_accounting(tracer) -> dict:
    """Per operation: Σ self time of its spans ÷ its root span's wall time,
    and the root's own (unattributed) share."""
    from perfbench.spans import self_times

    st = self_times(tracer.spans)
    sums, unattributed = [], []
    for spans in tracer.op_spans().values():
        root = next(s for s in spans if s["name"] == "op")
        wall = root["end"] - root["start"]
        sums.append(sum(st[s["id"]] for s in spans) / wall)
        unattributed.append(st[root["id"]] / wall)
    return {"self_sum_over_wall": statistics.median(sums),
            "unattributed_frac": statistics.median(unattributed)}


def run(args, spec: dict, run_dir: str, workload_cls) -> dict:
    from perfbench.spans import SparkCounters, Tracer

    cores = len(os.sched_getaffinity(0))
    env = {"nproc": cores, "loadavg_start": os.getloadavg(),
           "python": platform.python_version(), "workload": args.workload,
           "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    t0 = time.perf_counter()
    spark = start_spark(run_dir, cores)
    try:
        session_s = time.perf_counter() - t0
        env.update(spark=spark.version,
                   jvm=spark.sparkContext._jvm.java.lang.System.getProperty("java.version"))
        tracer = Tracer(spark)
        wl = workload_cls(spark, run_dir, args.seed, tracer, SparkCounters(spark))
        phases = {"session": session_s}
        mark = time.perf_counter()

        def phase(name: str) -> None:
            nonlocal mark
            now = time.perf_counter()
            phases[name] = now - mark
            mark = now

        reps = [wl.setup() for _ in range(SETUP_REPEATS)]
        setup_parts = {k: statistics.median(r[k] for r in reps) for k in reps[0]}
        setup_s = session_s + statistics.median(sum(r.values()) for r in reps)
        phase("setup")
        wl.prepare()
        phase("prepare")
        wl.warm_up()
        phase("warm_up")
        if args.trace:
            # half untraced, half traced: their difference is the tracing overhead
            half = (wl.min_ops + 1) // 2
            plain = measure(wl, tracer, args.seconds / 2, wl.warmup_ops, half)
            wl.install_tracing()
            tracer.enabled = True
            traced = measure(wl, tracer, args.seconds / 2, wl.warmup_ops + plain["attempted"],
                             half)
            phase("measure")
            wl.counters.settle()
            layers = wl.layer_metrics()
            layers.update(wl.trace_probe())
            phase("probe")
            layers.update({"session.start_s": session_s, **setup_parts})
            tracer.enabled = False
            tracer.unwrap_all()
        else:
            plain = measure(wl, tracer, args.seconds, wl.warmup_ops, wl.min_ops)
            phase("measure")
        wl.finish(plain["times"])
        phase("finish")
        e2e = end_to_end(plain, setup_s, wl)
        result = {"attempted": plain["attempted"] + wl.check_attempted,
                  "failed": plain["failed"] + wl.check_failed}
        detail = {**env, **wl.detail, "corpus_docs": wl.n_docs,
                  "setup_repeats": reps, "phase_s": phases, **op_tail(plain["times"]),
                  "op_ms": [round(1000 * t, 1) for t in plain["times"]], "end_to_end": e2e}
        if args.trace:
            traced_e2e = end_to_end(traced, setup_s, wl)
            result["attempted"] += traced["attempted"]
            result["failed"] += traced["failed"]
            detail["tracing_overhead"] = {k: traced_e2e[k] / e2e[k] - 1 for k in e2e}
            detail.update(span_accounting(tracer))
            names = [m["name"] for m in spec["per_layer"]]
            missing = set(layers) - set(names)
            if missing:
                raise RuntimeError(f"per-layer metrics not in BENCHMARK.json: {sorted(missing)}")
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in spec["per_layer"]}
            detail["per_layer"] = {k: v["value"] for k, v in metrics.items()}
            _write_artifact(args, {"detail": detail, "spans": tracer.spans})
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        detail["loadavg_end"] = os.getloadavg()
        detail["failed_frac"] = result["failed"] / result["attempted"]
        print("perfbench-detail " + json.dumps(detail, default=str), flush=True)
        return {"correct": result["failed"] == 0, **result, "metrics": metrics}
    finally:
        stop_spark(spark)


def _write_artifact(args, payload: dict) -> None:
    out = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump(payload, f, indent=1, default=str)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "edgesearch_spark")):
        print(f"edgesearch_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        result = run(args, spec, run_dir, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    # import the benchmark and the package from the repository root, not
    # from this script's directory
    sys.path[0] = ROOT
    sys.exit(main(sys.argv[1:]))
