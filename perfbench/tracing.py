"""Spans and counters for the traced run, recorded from outside the
program.

- Every public function of each package layer module is wrapped in a
  span (``install``). The wrappers go in before any ``workload`` module
  is imported, because those modules bind layer functions by name.
- Calls across the MLlib boundary (``Estimator.fit``,
  ``Transformer.transform``, ``Evaluator.evaluate`` and model
  save/load) are counted and timed; only the outermost boundary call
  on a thread is timed, so nested fits inside a CrossValidator are
  counted but not double-timed.
- A ``StreamingQueryListener`` records each query run's progress
  events. Runs are told apart by ``runId``: a query restarted from its
  checkpoint keeps its ``id``, so each incarnation counts as a query.

No ``observe()`` is used: it breaks later MLlib transforms in the same
session. Spans stay in memory until the pass ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import threading
import time

PACKAGE = "machine_learning_algorithm_sparkml__spark"

#: Package layers whose modules get one ``<layer>.<module>`` span name
#: each; ``functions`` modules share the name ``functions``.
MODULE_LAYERS = ("operators", "ml", "streaming")

MLLIB_KINDS = ("fit", "transform", "evaluate", "persist")
MLLIB_FIELDS = ("fit_calls",) + tuple(f"{k}_s" for k in MLLIB_KINDS)

#: Streaming progress ``durationMs`` entries -> metric suffix.
DURATIONS = {
    "triggerExecution": "trigger_s",
    "addBatch": "add_batch_s",
    "queryPlanning": "query_planning_s",
    "walCommit": "wal_commit_s",
    "commitOffsets": "commit_offsets_s",
    "latestOffset": "latest_offset_s",
}
STREAMING_FIELDS = (
    "queries",
    "batches",
    "empty_batches",
    "input_rows",
    "lifecycle_s",
    "state_rows",
    "state_memory_bytes",
) + tuple(DURATIONS.values())


def self_times(spans: list[dict]) -> list[float]:
    """Self time of each span: its duration minus the part of its
    interval that its child spans cover. Spans are dicts with ``t0``,
    ``t1`` and ``parent`` (an index into ``spans`` or None)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        hi = s["t0"]
        for c0, c1 in sorted(children.get(i, [])):
            c0, c1 = max(c0, hi), min(c1, s["t1"])
            if c1 > c0:
                covered += c1 - c0
                hi = c1
        out.append(s["t1"] - s["t0"] - covered)
    return out


def layer_modules() -> dict[str, str]:
    """Importable module name -> span name, for every traced module."""
    out = {f"{PACKAGE}.sources.io": "sources.io"}
    for layer in MODULE_LAYERS + ("functions",):
        pkg = importlib.import_module(f"{PACKAGE}.{layer}")
        for info in pkgutil.iter_modules(pkg.__path__):
            name = f"{PACKAGE}.{layer}.{info.name}"
            out[name] = "functions" if layer == "functions" else f"{layer}.{info.name}"
    return out


class Tracer:
    """Spans, MLlib boundary timings and streaming progress of one pass.
    The worker sets ``key`` before each key's build and clears it after
    the key's run; records made while it is None belong to no key."""

    def __init__(self) -> None:
        self.key: str | None = None
        self.spans: list[dict] = []
        self.mllib: list[dict] = []
        self.queries: dict[str, dict] = {}
        self._lock = threading.Lock()
        self._local = threading.local()

    # ---- layer spans -------------------------------------------------
    def _span(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._local.__dict__.setdefault("stack", [])
            rec = {
                "name": name,
                "key": self.key,
                "parent": stack[-1] if stack else None,
                "t0": time.perf_counter(),
            }
            with self._lock:
                idx = len(self.spans)
                self.spans.append(rec)
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                rec["t1"] = time.perf_counter()

        return traced

    def install(self) -> None:
        """Wrap the layer modules' public functions, and every re-export
        of them in the package namespaces, then the MLlib boundary."""
        import sys

        wrapped: dict[int, object] = {}
        for modname, span_name in layer_modules().items():
            mod = importlib.import_module(modname)
            for attr, obj in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != modname
                    # pandas/Arrow UDFs are functions too; Spark reads
                    # their attributes, so they stay untouched
                    or hasattr(obj, "evalType")
                ):
                    continue
                w = self._span(span_name, obj)
                wrapped[id(obj)] = (obj, w)
                setattr(mod, attr, w)
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith(PACKAGE) or ".workload" in modname:
                continue
            for attr, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
        self._install_mllib()

    # ---- MLlib boundary ----------------------------------------------
    def _boundary(self, kind: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            depth = self._local.__dict__.get("mllib_depth", 0)
            self._local.mllib_depth = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._local.mllib_depth = depth
                rec = {"kind": kind, "key": self.key, "outer": depth == 0}
                rec["s"] = time.perf_counter() - t0
                with self._lock:
                    self.mllib.append(rec)

        return timed

    def _install_mllib(self) -> None:
        from pyspark.ml import base, evaluation, util

        targets = [
            (base.Estimator, "fit", "fit"),
            (base.Transformer, "transform", "transform"),
            (evaluation.Evaluator, "evaluate", "evaluate"),
        ]
        for cls in (util.MLWriter, util.JavaMLWriter):
            targets.append((cls, "save", "persist"))
        for cls in (util.MLReader, util.JavaMLReader, util.DefaultParamsReader):
            targets.append((cls, "load", "persist"))
        for cls, meth, kind in targets:
            if meth in vars(cls):
                setattr(cls, meth, self._boundary(kind, vars(cls)[meth]))

    # ---- streaming progress ------------------------------------------
    def attach(self, spark) -> None:
        """Register the streaming progress listener on ``spark``."""
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                # delivered synchronously with start(): the key is current
                with tracer._lock:
                    tracer.queries[str(event.runId)] = {
                        "key": tracer.key,
                        "started": time.time(),
                        "terminated": None,
                        "batches": [],
                    }

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "durations": {k: p.durationMs.get(k, 0) for k in DURATIONS},
                    "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
                    "state_memory_bytes": sum(op.memoryUsedBytes for op in p.stateOperators),
                }
                with tracer._lock:
                    q = tracer.queries.get(str(p.runId))
                    if q is not None:
                        q["batches"].append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with tracer._lock:
                    q = tracer.queries.get(str(event.runId))
                    if q is not None:
                        q["terminated"] = time.time()

        spark.streams.addListener(_Progress())

    def wait_streams(self, timeout_s: float = 10.0) -> bool:
        """Wait until every started query's termination event arrived
        (listener events are delivered asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if all(q["terminated"] is not None for q in self.queries.values()):
                    return True
            time.sleep(0.05)
        return False

    # ---- summaries ---------------------------------------------------
    def layer_summary(self) -> dict[str | None, dict[str, dict[str, float]]]:
        """key -> span name -> {"calls", "self_s"}."""
        selfs = self_times(self.spans)
        out: dict[str | None, dict[str, dict[str, float]]] = {}
        for s, self_s in zip(self.spans, selfs):
            agg = out.setdefault(s["key"], {}).setdefault(s["name"], {"calls": 0, "self_s": 0.0})
            agg["calls"] += 1
            agg["self_s"] += self_s
        return out

    def mllib_summary(self) -> dict[str | None, dict[str, float]]:
        """key -> fit_calls and outermost seconds per boundary kind."""
        out: dict[str | None, dict[str, float]] = {}
        for r in self.mllib:
            agg = out.setdefault(r["key"], dict.fromkeys(MLLIB_FIELDS, 0))
            if r["kind"] == "fit":
                agg["fit_calls"] += 1
            if r["outer"]:
                agg[f"{r['kind']}_s"] += r["s"]
        return out

    def streaming_summary(self) -> dict[str | None, dict[str, float]]:
        """key -> streaming progress counters (see README.md)."""
        out: dict[str | None, dict[str, float]] = {}
        for q in self.queries.values():
            agg = out.setdefault(q["key"], dict.fromkeys(STREAMING_FIELDS, 0))
            agg["queries"] += 1
            agg["batches"] += len(q["batches"])
            agg["empty_batches"] += sum(1 for b in q["batches"] if b["rows"] == 0)
            agg["input_rows"] += sum(b["rows"] for b in q["batches"])
            trigger_s = 0.0
            for b in q["batches"]:
                for k, name in DURATIONS.items():
                    agg[name] += b["durations"][k] / 1e3
                trigger_s += b["durations"]["triggerExecution"] / 1e3
            if q["batches"]:
                agg["state_rows"] += q["batches"][-1]["state_rows"]
                agg["state_memory_bytes"] += q["batches"][-1]["state_memory_bytes"]
            if q["terminated"] is not None:
                agg["lifecycle_s"] += max(0.0, q["terminated"] - q["started"] - trigger_s)
        return out
