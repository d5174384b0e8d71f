#!/usr/bin/env python3
"""Benchmark of the retail engine's registry queries, one workload per run.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  One process: it starts a local Spark
session sized to the host, runs one untimed pass over the workload's query
list that also checks every output (see ``verify.py``), then runs at least
three timed passes, and more while fewer than ``--seconds`` have elapsed,
each pass in an order permuted by ``--seed``.  The load is a closed loop with one client: a query is built
through ``registry.queries()[name](spark, sf_dir)`` and materialized only
after the previous query's build, execution and ``clearCache()`` returned.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
loop under the span recorder of ``layers.py`` and reports per-layer metrics
instead.  The last line of stdout is the JSON result; the full record (every
sample, failing query names, host facts and, when traced, every span) goes
to ``.perfbench/out/`` in the checkout.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "retail_sales_project_bigdata_spark"
DATA_DIR = os.path.join(HERE, "data")
SF_DIR = os.path.join(DATA_DIR, "sf0.01")
WORK_DIR = os.path.join(ROOT, ".perfbench")
MB = 1024.0 * 1024.0
MIN_PASSES = 3  # pass_s is the best of at least three timed passes
CHECK_WORKERS = 3  # DuckDB + compare processes during the untimed pass


def _process_age_s() -> float:
    """Seconds since this interpreter started, so setup_s counts from
    process start rather than from this module's first line."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


_AGE_AT_T0 = _process_age_s()


def _missing_inputs() -> list[str]:
    missing = [
        p
        for p in (
            os.path.join(ROOT, PACKAGE, "registry.py"),
            os.path.join(ROOT, "tools", "oracle_check.py"),
        )
        if not os.path.isfile(p)
    ]
    with open(os.path.join(DATA_DIR, "sf0.01.sha256")) as fh:
        for line in fh:
            digest, rel = line.split()
            path = os.path.join(DATA_DIR, rel)
            try:
                with open(path, "rb") as data:
                    ok = hashlib.sha256(data.read()).hexdigest() == digest
            except OSError:
                ok = False
            if not ok:
                missing.append(path)
    return missing


def _order(names: list[str], seed: int, pass_no: int) -> list[str]:
    out = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(out)
    return out


def _warm_workers(batches):
    import numpy  # noqa: F401  (first import happens in the worker)
    import pandas  # noqa: F401

    yield from batches


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _setup(cores: int, tmp: str):
    """Start the session and everything a first query would otherwise pay:
    JVM launch, one warm-up job, the package zip shipped to the workers and
    the Python worker pool forked with numpy/pandas imported."""
    from pyspark.sql import functions as F

    from retail_sales_project_bigdata_spark.session import (
        ensure_package_on_workers,
        get_spark,
    )

    t = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )
    region = spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
    _materialize(
        region.crossJoin(F.broadcast(region.select(F.col("r_regionkey").alias("k"))))
        .groupBy("k")
        .count()
    )
    start_s = time.perf_counter() - t
    t = time.perf_counter()
    ensure_package_on_workers(spark)
    _materialize(
        spark.range(cores, numPartitions=cores).mapInPandas(_warm_workers, schema="id long")
    )
    return spark, start_s, time.perf_counter() - t


def _stop(spark) -> None:
    """Stop the session, the Py4J gateway and the JVM, and wait for the JVM
    and its Python workers to exit."""
    from pyspark import SparkContext

    from layers import descendants

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _retained_heap_mb(spark) -> float:
    """JVM heap in use after forced full GCs, at least three and then until
    two readings in a row agree: the context cleaner frees the blocks of
    collected RDDs, broadcasts and shuffles asynchronously after each
    collection.  Python's collector runs first, so Py4J proxies left in
    reference cycles release the JVM objects they pin."""
    gc.collect()
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for _ in range(8):
        jvm.System.gc()
        time.sleep(0.3)
        readings.append(bean.getHeapMemoryUsage().getUsed() / MB)
        if len(readings) >= 3 and abs(readings[-1] - readings[-2]) < 1.0:
            break
    return readings[-1]


def _host_ticks() -> list[int]:
    """Host CPU ticks (user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def _per_layer_units() -> dict[str, str]:
    """The per-layer metrics BENCHMARK.json declares, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def _gmean_of_best(per_query: list[dict]) -> float:
    """Geometric mean over the workload's queries of each query's fastest
    time across the timed passes: every query weighs the same, whatever
    its size."""
    by_name: dict[str, list[float]] = {}
    for row in per_query:
        by_name.setdefault(row["query"], []).append(row["query_s"])
    return statistics.geometric_mean(min(v) for v in by_name.values())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = _missing_inputs()
    if missing:
        print(
            "perfbench: cannot run, missing or altered inputs (run from a "
            f"checkout of the repository): {missing}",
            file=sys.stderr,
        )
        return 2

    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    # A scratch directory per run, so two runs in one checkout never share
    # Spark's block-manager files; those of killed runs are removed here.
    tmp_root = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp_root, exist_ok=True)
    for pid in os.listdir(tmp_root):
        if not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(tmp_root, pid), ignore_errors=True)
    tmp = os.path.join(tmp_root, str(os.getpid()))
    os.makedirs(tmp)
    # session.py reads these at import time: cores and shuffle partitions
    # follow the host, and the heap stays well below physical RAM.
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(8192, ram_mb // 4)}m"
    # Keep every file Spark, the JVMs and Python write inside the checkout.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("SPARK_MASTER", None)
    sys.path.insert(0, ROOT)

    import pyspark

    from retail_sales_project_bigdata_spark import registry

    names = WORKLOADS[args.workload]
    queries = registry.queries()
    spark = None
    try:
        spark, start_s, worker_pool_s = _setup(cores, tmp)
        setup_s = _AGE_AT_T0 + time.perf_counter() - _T0
        result = _run(args, spark, registry, queries, names, tmp)
        if not args.trace:
            result["retained_heap_mb"] = _retained_heap_mb(spark)
        java = spark._jvm.System.getProperty("java.version")
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    failures = result.pop("failures")
    samples = [row["query_s"] for row in result["per_query"]]
    passes = result.pop("passes")
    attempted = result.pop("attempted")
    failed = len(failures)
    host = {
        "cores": cores,
        "ram_mb": ram_mb,
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "java": java,
    }
    if args.trace:
        layer = result.pop("layers")
        layer["session.start_s"] = start_s
        layer["session.worker_pool_s"] = worker_pool_s
        layer["session.warmup_pass_s"] = result["warmup_pass_s"]
        metrics = {k: {"value": layer[k], "unit": unit} for k, unit in _per_layer_units().items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            # Best of the timed passes: the host's speed varies with its
            # other tenants' load, which only ever adds time (README).
            "pass_s": {"value": min(passes), "unit": "s"},
            "query_gmean_s": {"value": _gmean_of_best(result["per_query"]), "unit": "s"},
            "retained_heap_mb": {"value": result["retained_heap_mb"], "unit": "MB"},
        }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "sf_dir": os.path.relpath(SF_DIR, ROOT),
        "queries": names,
        "passes_s": passes,
        # Pooled over the timed passes; too few samples to gate on (README).
        "query_samples": len(samples),
        "query_p50_s": statistics.median(samples) if samples else None,
        "query_p90_s": _quantile(samples, 0.9) if samples else None,
        "failed_frac": failed / attempted,
        "failures": failures,
        "metrics": metrics,
        **result,
    }
    out_dir = os.path.join(WORK_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        f"{len(passes)} timed passes of {len(names)} queries, "
        f"{len(samples)} query samples, failed {failed}/{attempted}"
        + (f" {sorted({f['query'] for f in failures})}" if failures else "")
        + f"; host {json.dumps(host)}; record {os.path.relpath(out_path, ROOT)}"
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _run(args, spark, registry, queries, names, tmp) -> dict:
    from layers import tree_cpu_s
    from verify import OutputCheck

    failures: list[dict] = []
    check_s: dict[str, float] = {}
    check = OutputCheck(SF_DIR, registry.oracle_sql(), tmp, CHECK_WORKERS)
    try:
        t = time.perf_counter()
        for name in _order(names, args.seed, 0):
            t_q = time.perf_counter()
            check.first(name, lambda: queries[name](spark, SF_DIR))
            spark.catalog.clearCache()
            check_s[name] = time.perf_counter() - t_q
        registry.clear_session_memos()
        warmup_pass_s = time.perf_counter() - t
        failures += [
            {"pass": 0, "query": n, "problems": p} for n, p in check.problems().items()
        ]
        check_wait_s = time.perf_counter() - t - warmup_pass_s
    finally:
        check.close()

    tracer = None
    if args.trace:
        from layers import Tracer, peak_rss_mb, python_workers_cpu_s

        tracer = Tracer(spark, PACKAGE)
    passes: list[float] = []
    per_query: list[dict] = []
    per_pass_layers: list[dict[str, float]] = []
    attempted = len(names)
    host: list[dict] = []
    cpu_s: list[float] = []
    jvm_pid = spark.sparkContext._gateway.proc.pid
    t_start = time.perf_counter()
    pass_no = 0
    while pass_no < MIN_PASSES or time.perf_counter() - t_start < args.seconds:
        pass_no += 1
        pass_s = 0.0
        totals: dict[str, float] = {}
        ticks0, gc0, cpu0 = _host_ticks(), _jvm_gc_s(spark), tree_cpu_s(jvm_pid)
        if tracer:
            py0 = python_workers_cpu_s(tracer.jvm_pid)
            tracer.take_streaming()
            t_pass = time.perf_counter()
        for name in _order(names, args.seed, pass_no):
            attempted += 1
            build = lambda name=name: queries[name](spark, SF_DIR)  # noqa: E731
            try:
                if tracer:
                    row = tracer.run_query(name, build)
                    query_s, clear_s = row.pop("wall_s"), row.pop("clear_s")
                    for k, v in row.items():
                        totals[k] = totals.get(k, 0) + v
                    totals["cache.clear_s"] = totals.get("cache.clear_s", 0) + clear_s
                    df = None
                else:
                    t = time.perf_counter()
                    df = build()
                    _materialize(df)
                    query_s = time.perf_counter() - t
                    t = time.perf_counter()
                    spark.catalog.clearCache()
                    clear_s = time.perf_counter() - t
            except Exception as exc:  # noqa: BLE001 - a failing query is a result
                spark.catalog.clearCache()
                failures.append(
                    {"pass": pass_no, "query": name,
                     "problems": [f"{type(exc).__name__}: {str(exc)[:300]}"]}
                )
                continue
            pass_s += query_s + clear_s
            per_query.append({"pass": pass_no, "query": name, "query_s": query_s})
            problems = check.schema_problems(name, df) if df is not None else []
            if problems:
                failures.append({"pass": pass_no, "query": name, "problems": problems})
        passes.append(pass_s)
        ticks = [b - a for a, b in zip(ticks0, _host_ticks())]
        cpu_s.append(tree_cpu_s(jvm_pid) - cpu0)
        host.append({
            "jvm_gc_s": _jvm_gc_s(spark) - gc0,
            "host_busy_frac": 1 - (ticks[3] + ticks[4]) / sum(ticks),
            "host_steal_frac": ticks[7] / sum(ticks),
        })
        if tracer:
            totals["trace.pass_s"] = time.perf_counter() - t_pass
            totals["python.worker_cpu_s"] = python_workers_cpu_s(tracer.jvm_pid) - py0
            totals.update(tracer.take_streaming())
            totals["jvm.heap_used_mb"] = tracer.jvm_heap_used_mb()
            totals["jvm.peak_rss_mb"] = peak_rss_mb(tracer.jvm_pid)
            per_pass_layers.append(totals)
        registry.clear_session_memos()

    out: dict = {
        "attempted": attempted,
        "failures": failures,
        "passes": passes,
        "pass_cpu_s": cpu_s,
        "warmup_pass_s": warmup_pass_s,
        "check_s": check_s,
        "check_wait_s": check_wait_s,
        "per_pass_host": host,
        "per_query": per_query,
    }
    if tracer:
        tracer.close()
        layers = {
            k: statistics.median(p.get(k, 0) for p in per_pass_layers)
            for k in _per_layer_units()
            if not k.startswith("session.")
        }
        layers.pop("trace.self_time_frac")
        query_walls = sum(r["query_s"] for r in per_query)
        self_sum = sum(
            s.self_s for s in tracer.spans if s.query and s.name not in ("query", "clear")
        )
        layers["trace.self_time_frac"] = self_sum / query_walls if query_walls else 0.0
        exec_s = layers["exec.s"]
        layers["exec.core_util"] = (
            layers["exec.executor_cpu_s"] / (exec_s * len(os.sched_getaffinity(0)))
            if exec_s else 0.0
        )
        out["layers"] = layers
        out["per_pass_layers"] = per_pass_layers
        out["spans"] = tracer.dump_spans()
    return out


if __name__ == "__main__":
    sys.exit(main())
