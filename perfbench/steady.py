"""Run the benchmark over several seeds and report how steady it is.

    python3 perfbench/steady.py --workload lazy_plans --seeds 1-10
    python3 perfbench/steady.py --workload eager_builds --seeds 1-3 --trace 1

``--trace 0``: for each end-to-end metric, the median of the runs and
the quartile spread (first to third quartile as a share of the median)
against the metric's bound in BENCHMARK.json. ``--trace 1``: for each
key, which per-key counters of the traced pass repeat exactly across
the runs and which vary (with their values), read from the run reports
in ``.perfbench/results/``. Writes a summary to ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402

# Per-key counters whose run-to-run repeatability is reported.
COUNTED = ("spark.", "streaming.queries", "streaming.batches", "ml.fit_calls")


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _repeatability(reports: list[dict]) -> dict[str, dict]:
    """key -> {"exact": [counters equal in every run], "varying":
    {counter: [value per run]}} over the per-key traced counters."""
    out: dict[str, dict] = {}
    keys = sorted(set.intersection(*(set(r["per_key"]) for r in reports)))
    for k in keys:
        rows = [r["per_key"][k] for r in reports]
        names = sorted(n for n in rows[0] if n.startswith(COUNTED) and not n.endswith("_s"))
        exact, varying = [], {}
        for n in names:
            vals = [row.get(n, 0) for row in rows]
            if len(set(vals)) == 1:
                exact.append(n)
            else:
                varying[n] = vals
        out[k] = {"exact": exact, "varying": varying}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seeds = _seeds(args.seeds)
    runs = []
    for seed in seeds:
        line = _run(args.workload, seed, spec["run_seconds"], args.trace)
        runs.append(line)
        vals = {k: round(v["value"], 4) for k, v in line["metrics"].items() if args.trace == 0}
        print(f"seed {seed}: correct={line['correct']} {vals}", flush=True)

    summary: dict = {"workload": args.workload, "seeds": seeds, "trace": args.trace}
    if args.trace == 0:
        summary["metrics"] = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            spread = stats.quartile_spread(vals) if len(vals) >= 2 else 0.0
            summary["metrics"][m["name"]] = {
                "median": stats.p50(vals),
                "spread": spread,
                "bound": m["bound"],
                "values": vals,
            }
            print(
                f"{m['name']:>16}: median {stats.p50(vals):.4f} {m['unit']}  "
                f"spread {spread:.4f}  bound {m['bound']}  "
                f"{'ok' if spread < m['bound'] / 3 else 'WIDE'}"
            )
    else:
        results = os.path.join(ROOT, ".perfbench", "results")
        reports = []
        for seed in seeds:
            with open(os.path.join(results, f"{args.workload}-seed{seed}-trace1.json")) as f:
                reports.append(json.load(f))
        summary["per_key"] = _repeatability(reports)
        for k, rep in summary["per_key"].items():
            varying = {n: v for n, v in rep["varying"].items()}
            print(f"{k}: {len(rep['exact'])} counters exact; varying: {varying or '-'}")
    path = os.path.join(ROOT, ".perfbench", f"steady-{args.workload}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(summary, f, indent=1)
    print(f"summary -> {os.path.relpath(path, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
