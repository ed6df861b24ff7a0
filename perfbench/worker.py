"""One benchmark process: cold set-ups, then one pass over a
workload's keys. ``run.py`` starts it in a fresh process with the
benchmark's environment and reads the JSON it writes to ``--out``.

A set-up sample is process start (``PERFBENCH_SPAWNED``, epoch seconds,
set by the parent just before it starts this process) to the end of
the program import, plus one cold session start (a new JVM through
``get_session``) and the warm-up scan. In the pass each key is timed as
its build (the ``queries()[key](spark, sf_dir)`` call) plus its run (the
noop write, ``bench._force``), and its output is checked outside both.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import time
import traceback

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECK_GROUP = "perfbench-check"
ORACLE_MEM = "2GB"
#: Data-segment cap for this process once the JVM is up (the JVM and
#: Spark's Python workers are separate processes and keep their own).
PY_DATA_LIMIT = 6 << 30


def _check(df, key: str, oracles: dict, con, compare_key) -> tuple[bool, str]:
    """Oracle-backed keys: the driver-model compare against DuckDB.
    Rows-only keys (seeded sampling, ML, some corpus operators): the
    output must be non-empty."""
    if key in oracles:
        n, schema_ok, values_ok, detail = compare_key(df, con, oracles[key])
        ok = schema_ok and values_ok
        return ok, f"oracle rows={n}" + ("" if ok else f" detail={detail[:3]!r}")
    n = df.count()
    return n > 0, f"rows={n}"


def _jvm_hwm_mb(spark) -> float:
    """Peak resident set of the session's JVM, from /proc."""
    pid = spark.sparkContext._gateway.proc.pid
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def prime(spark, sf_dir: str) -> None:
    """Untimed JIT warm-up before the first key, so the first keys of a
    pass do not carry the JVM's and Python workers' first-use cost: one
    join, aggregation, window and sort over the input tables and one
    Arrow UDF on every core. It calls no program code, so no program
    work can move into it unmeasured."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum("l_quantity").alias("q"), F.countDistinct("l_suppkey").alias("n"))
        .withColumn("r", F.rank().over(Window.orderBy(F.desc("q"))))
        .orderBy("r")
        .collect()
    )
    plus_one = F.pandas_udf(_plus_one, "long")
    parts = spark.sparkContext.defaultParallelism  # one partition per core starts every Python worker
    spark.range(0, 1000 * parts, 1, parts).select(plus_one("id").alias("v")).agg(F.sum("v")).collect()


def run_pass(spark, sf_dir: str, keys: list[str], tracer) -> list[dict]:
    import duckdb

    import __spark_entry__ as entry
    import bench
    from tools.parity_drive import TABLES, compare_key

    qs, oracles = entry.queries(), entry.oracle_sql()
    # The oracle runs in this process: cap it (and this process's data
    # segment, PY_DATA_LIMIT) so that a key whose check needs more fails
    # its check instead of exhausting the machine's memory.
    con = duckdb.connect(config={"memory_limit": ORACLE_MEM})
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    sc = spark.sparkContext
    records = []
    for key in keys:
        rec: dict = {"key": key, "status": "ok"}
        if tracer is not None:
            sc.setJobGroup(key, key)
            tracer.key = key
        w0 = time.time()
        t0 = time.perf_counter()
        df = None
        try:
            df = qs[key](spark, sf_dir)
            t1 = time.perf_counter()
            bench._force(df)
            t2 = time.perf_counter()
            rec["build_s"], rec["run_s"] = t1 - t0, t2 - t1
        except Exception as exc:  # a failing key is a result, not a crash
            rec["status"] = "failed"
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            traceback.print_exc()
        rec["window_ms"] = (w0 * 1e3, time.time() * 1e3)
        if tracer is not None:
            tracer.key = None
            sc.setJobGroup(CHECK_GROUP, CHECK_GROUP)
        c0 = time.perf_counter()
        if rec["status"] == "ok":
            try:
                ok, rec["check"] = _check(df, key, oracles, con, compare_key)
            except Exception as exc:
                ok, rec["check"] = False, f"{type(exc).__name__}: {exc}"[:300]
            if not ok:
                rec["status"] = "wrong"
        spark.catalog.clearCache()
        rec["check_s"] = time.perf_counter() - c0
        print(
            f"[perfbench] {key}: {rec['status']} "
            f"build={rec.get('build_s', 0):.3f}s run={rec.get('run_s', 0):.3f}s "
            f"check={rec['check_s']:.3f}s",
            file=sys.stderr,
            flush=True,
        )
        records.append(rec)
    con.close()
    return records


def _shut_down_jvm(spark) -> None:
    """Stop the session and its JVM, so that the next ``get_session``
    launches a new one (a cold set-up inside this process)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setups", type=int, default=1)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    spawned = float(os.environ["PERFBENCH_SPAWNED"])
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    sys.path.insert(0, ROOT)

    tracer = None
    if args.trace:
        from perfbench.tracing import Tracer, layer_modules

        tracer = Tracer()
        tracer.install()

    import __spark_entry__  # noqa: F401  (program import cost is set-up)
    from machine_learning_algorithm_sparkml__spark import get_session
    from machine_learning_algorithm_sparkml__spark.sources import load_table

    # Set-up: process start and program import once, then ``--setups``
    # cold session starts (each launches its own JVM) with the warm-up
    # scan. Every sample adds the one import time; the pass runs on the
    # last session.
    t0 = time.time()
    import_s = t0 - spawned
    setups = []
    for i in range(args.setups):
        if i:
            _shut_down_jvm(spark)
            t0 = time.time()
        spark = get_session("perfbench")
        t_up = time.time()
        load_table(spark, sf_dir, "lineitem").count()
        t_warm = time.time()
        setups.append(
            {
                "start_s": import_s + t_up - t0,
                "warmup_s": t_warm - t_up,
                "setup_s": import_s + t_warm - t0,
            }
        )
    # after the last JVM launch: the JVM must not inherit this cap
    resource.setrlimit(resource.RLIMIT_DATA, (PY_DATA_LIMIT, PY_DATA_LIMIT))
    if tracer is not None:
        tracer.attach(spark)
    result: dict = {
        "setups": setups,
        "env": {
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "pyspark": spark.version,
            "master": spark.sparkContext.master,
            "app_id": spark.sparkContext.applicationId,
        },
    }
    from machine_learning_algorithm_sparkml__spark.workload import ALL_QUERY_MODULES

    from perfbench.workloads import workload_keys

    module_keys = {m.__name__.rsplit(".", 1)[1]: list(m.QUERIES) for m in ALL_QUERY_MODULES}
    keys = workload_keys(args.workload, module_keys, args.seed)
    t_prime = time.time()
    prime(spark, sf_dir)
    result["prime_s"] = time.time() - t_prime
    result["keys"] = run_pass(spark, sf_dir, keys, tracer)
    result["pass_end_s"] = time.time() - spawned
    result["peak_rss_mb"] = _jvm_hwm_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    if tracer is not None:
        result["streams_drained"] = tracer.wait_streams()
        spark.stop()  # finishes the event log
        result["trace"] = {
            "layers": tracer.layer_summary(),
            "mllib": tracer.mllib_summary(),
            "streaming": tracer.streaming_summary(),
            "span_names": sorted(set(layer_modules().values())),
        }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # Skip interpreter teardown (it would stop the session first): the
    # parent kills every process of this one's session once it exits.
    os._exit(code)
