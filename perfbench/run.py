"""Benchmark entry point.

    python3 perfbench/run.py --workload lazy_plans --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. The load is a
closed loop with one client: one pass runs the workload's keys one
after another in a fresh process on ``local[nproc]``, nothing else
concurrent. Inputs are the read-only tables at ``$SPARK_GRAFT_SF_DIR``
(default: the ``sf0.1`` directory beside the driver contract's smoke-test
data, ``__spark_entry__.SMOKE_SF_DIR``); the seed permutes the key order.

``--trace 0`` measures the end-to-end metrics: one fresh process makes
three cold set-ups and runs one pass on the last. A pass is sized by
its workload's rule, not by ``--seconds``; it measures 14-22 s of key
time on 4 cores. ``--trace 1`` runs one untraced and one traced pass
and reports the per-layer metrics. Every key's output is checked in
both. The last stdout line is one JSON object; everything else goes to
stderr. A report with every key's numbers is written to
``.perfbench/results/``. Exits 2 if the program or its inputs are
missing.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, stats, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

REQUIRED = (
    "BENCHMARK.json",
    "__spark_entry__.py",
    "bench.py",
    "machine_learning_algorithm_sparkml__spark/__init__.py",
    "tools/parity_drive.py",
)
SF_TABLES = ("lineitem", "orders", "customer", "nation", "region", "part", "supplier", "events")
SETUP_SAMPLES = 3
DRIVER_MEM = "4g"
#: Every benchmark process is stopped by then, so that a run ends
#: within the 180 s a run may take.
RUN_DEADLINE_S = 170.0


def _default_sf_dir() -> str:
    import __spark_entry__

    return os.path.join(os.path.dirname(__spark_entry__.SMOKE_SF_DIR.rstrip("/")), "sf0.1")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _spark_defaults(tmp: str, trace: bool) -> str:
    """spark-defaults.conf for a benchmark-owned SPARK_CONF_DIR: the event
    log (traced passes only, as plain JSON) and every scratch directory
    live under the run's temp root, so ``get_session`` stays the only
    session path and the checkout is left as it was."""
    conf = {
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(tmp, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    return "".join(f"{k} {v}\n" for k, v in conf.items())


def _child_env(tmp: str, sf_dir: str, trace: bool) -> dict[str, str]:
    conf_dir = os.path.join(tmp, "conf-trace" if trace else "conf")
    for d in (conf_dir, "eventlog", "warehouse", "local", "tmp"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write(_spark_defaults(tmp, trace))
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    # Spark's Python workers inherit PYTHONPATH: without the repo root
    # on it, keys whose UDFs import the package fail in the worker.
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.update(
        {
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_CONF_DIR": conf_dir,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
            "TMPDIR": os.path.join(tmp, "tmp"),
            "SPARK_GRAFT_CPUS": str(_nproc()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_SELF_VERIFY": "0",
            "SPARK_GRAFT_SF_DIR": sf_dir,
        }
    )
    return env


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_session(sid: int) -> None:
    """Kill every process left in a child's session (its JVM and Spark's
    Python workers) and wait until none is left. Nothing they hold is
    needed: results are written and the temp root is removed after."""
    deadline = time.monotonic() + 10.0
    while _session_pids(sid) and time.monotonic() < deadline:
        try:
            os.killpg(sid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.05)


class Runner:
    def __init__(self, args, sf_dir: str, tmp: str) -> None:
        self.args = args
        self.sf_dir = sf_dir
        self.tmp = tmp
        self.deadline = time.monotonic() + RUN_DEADLINE_S
        self.n = 0
        self.elapsed: list[tuple[str, float]] = []

    def child(self, setups: int = 1, trace: bool = False) -> dict:
        self.n += 1
        out = os.path.join(self.tmp, f"child{self.n}.json")
        cwd = os.path.join(self.tmp, f"cwd{self.n}")
        os.makedirs(cwd)
        env = _child_env(self.tmp, self.sf_dir, trace)
        cmd = [
            sys.executable, os.path.join(ROOT, "perfbench", "worker.py"),
            "--workload", self.args.workload, "--seed", str(self.args.seed),
            "--trace", str(int(trace)), "--setups", str(setups), "--out", out,
        ]
        t0 = time.time()
        env["PERFBENCH_SPAWNED"] = repr(t0)
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_session(proc.pid)
            proc.wait()
            self.elapsed.append(("traced" if trace else "untraced", time.time() - t0))
        if code != 0 or not os.path.exists(out):
            raise RuntimeError(f"benchmark process (trace={int(trace)}) ended with {code}")
        with open(out) as f:
            return json.load(f)


def _pass_summary(p: dict) -> dict:
    lat = [r["build_s"] + r["run_s"] for r in p["keys"] if r["status"] != "failed"]
    return {
        "wall_s": sum(lat),
        "key_p50_s": stats.p50(lat),
        "key_geomean_s": stats.geomean(lat),
    }


def end_to_end(p: dict) -> dict[str, float]:
    """The end-to-end metrics of one pass and its set-ups."""
    attempted = len(p["keys"])
    raised = sum(r["status"] == "failed" for r in p["keys"])
    wrong = sum(r["status"] == "wrong" for r in p["keys"])
    return {
        "setup_s": stats.p50([s["setup_s"] for s in p["setups"]]),
        **_pass_summary(p),
        "completed_frac": (attempted - raised) / attempted,
        "correct_frac": (attempted - raised - wrong) / attempted,
    }


def per_layer(traced: dict, untraced: dict, log_lines: list[str], names: list[str]) -> tuple[dict, dict]:
    """Workload-level per-layer metrics (exactly ``names``) and the
    per-key breakdown."""
    keys = traced["keys"]
    windows = {r["key"]: tuple(r["window_ms"]) for r in keys}
    spark_by_key = eventlog.attribute(eventlog.parse(log_lines), windows)
    tr = traced["trace"]
    per_key: dict[str, dict] = {}
    for r in keys:
        k = r["key"]
        wall = r.get("build_s", 0.0) + r.get("run_s", 0.0)
        sk = spark_by_key[k]
        m = {
            "status": r["status"],
            "build_s": r.get("build_s"),
            "run_s": r.get("run_s"),
            **{f"spark.{c}": v for c, v in sk.items()},
            "spark.outside_job_s": max(0.0, wall - sk["in_job_s"]),
        }
        for span, agg in tr["layers"].get(k, {}).items():
            m[f"{span}.calls"] = agg["calls"]
            m[f"{span}.self_s"] = agg["self_s"]
        for c, v in tr["mllib"].get(k, {}).items():
            m[f"ml.{c}"] = v
        for c, v in tr["streaming"].get(k, {}).items():
            m[f"streaming.{c}"] = v
        per_key[k] = m

    # layers no key of the workload reached read 0
    total: dict[str, float] = {f"ml.{c}": 0 for c in tracing.MLLIB_FIELDS}
    total.update((f"streaming.{c}", 0) for c in tracing.STREAMING_FIELDS)
    for m in per_key.values():
        for c, v in m.items():
            if isinstance(v, (int, float)) and "." in c:
                total[c] = total.get(c, 0) + v
    batches = total.get("streaming.batches", 0)
    total["streaming.empty_batch_frac"] = total.get("streaming.empty_batches", 0) / batches if batches else 0.0
    built = [r for r in keys if r["status"] != "failed"]
    total.update(
        {
            "session.start_s": traced["setups"][0]["start_s"],
            "session.warmup_s": traced["setups"][0]["warmup_s"],
            "session.peak_rss_mb": traced["peak_rss_mb"],
            "workload.build_s": sum(r["build_s"] for r in built),
            "workload.run_s": sum(r["run_s"] for r in built),
            "workload.keys": len(keys),
            "workload.failed": len(keys) - len(built),
            "workload.key_p50_s": _pass_summary(untraced)["key_p50_s"],
            "trace.overhead_frac": _pass_summary(traced)["wall_s"] / _pass_summary(untraced)["wall_s"] - 1,
        }
    )
    # A span metric no key of this workload reached reads 0, but only if
    # its module exists and was wrapped: a renamed or removed module
    # must not read 0 unnoticed.
    spans = set(tr["span_names"])
    missing = [
        n
        for n in names
        if n not in total and not (n.endswith((".calls", ".self_s")) and n.rsplit(".", 1)[0] in spans)
    ]
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    return {n: total.get(n, 0) for n in names}, per_key


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its child's processes and removes its
    # temp root (both happen in ``finally`` blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"[perfbench] cannot run, missing: {missing}", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or _default_sf_dir()
    missing = [
        os.path.join(sf_dir, f"{t}.parquet")
        for t in SF_TABLES
        if not os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
    ]
    if missing:
        print(f"[perfbench] cannot run, missing: {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    import bench

    offenders_start = bench.foreign_workloads()
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=work)
    runner = Runner(args, sf_dir, tmp)
    try:
        report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
        if args.trace == 0:
            passes = [runner.child(setups=SETUP_SAMPLES)]
            values = end_to_end(passes[0])
            wanted = spec["end_to_end"]
            report["pass"] = {k: passes[0][k] for k in ("setups", "prime_s", "keys")}
            env_stamp = passes[0]["env"]
            peak_mb = passes[0]["peak_rss_mb"]
        else:
            # both passes check outputs: the checks also warm the JVM for
            # later keys, so an unchecked pass would bias the overhead
            passes = [runner.child(), runner.child(trace=True)]
            logs = glob.glob(os.path.join(tmp, "eventlog", passes[1]["env"]["app_id"] + "*"))
            if len(logs) != 1:
                raise RuntimeError(f"expected one event log, found {logs}")
            with open(logs[0]) as f:
                lines = f.readlines()
            wanted = spec["per_layer"]
            values, report["per_key"] = per_layer(passes[1], passes[0], lines, [m["name"] for m in wanted])
            report["streams_drained"] = passes[1]["streams_drained"]
            env_stamp = passes[1]["env"]
            peak_mb = passes[1]["peak_rss_mb"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    report["process_s"] = runner.elapsed
    keys = [r for p in passes for r in p["keys"]]
    failed = [r for r in keys if r["status"] != "ok"]
    report["env"] = {
        **env_stamp,
        "nproc": _nproc(),
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "driver_mem": DRIVER_MEM,
        "sf_dir": sf_dir,
        "self_verify": "0",
        "peak_rss_mb": peak_mb,
    }
    offenders_end = bench.foreign_workloads()
    report["isolation"] = {
        "clean": not offenders_start and not offenders_end,
        "offenders_at_start": offenders_start,
        "offenders_at_end": offenders_end,
    }
    report["metrics"] = values
    report["run_s"] = time.monotonic() - t_start
    report["failed_keys"] = {r["key"]: r.get("error") or r.get("check") for r in failed}
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    if not report["isolation"]["clean"]:
        print(f"[perfbench] WARNING: run overlapped other work: {report['isolation']}", file=sys.stderr)
    for r in failed:
        print(f"[perfbench] {r['status']}: {r['key']}: {report['failed_keys'][r['key']]}", file=sys.stderr)
    print(f"[perfbench] env {json.dumps(report['env'], sort_keys=True)}", file=sys.stderr)
    print(f"[perfbench] report -> {os.path.relpath(os.path.join(results, name), ROOT)}", file=sys.stderr)
    line = {
        "correct": not failed,
        "attempted": len(keys),
        "failed": len(failed),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
