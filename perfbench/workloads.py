"""Workload rules: which driver-contract keys a pass runs, and in what
order.

A workload is a rule over the existing ``workload/`` modules, never a
hand-kept key list: take every key of the named modules, sort the keys
by name, and keep every ``stride``-th one, starting with the first.
The stride only sizes a pass so that one run (three cold set-ups plus
one pass and its output checks) fits the benchmark's time budget; see
README.md for the measured pass sizes. The seed only permutes the order
of the selected keys.
"""

from __future__ import annotations

import random

#: name -> (workload modules, stride)
WORKLOADS: dict[str, tuple[tuple[str, ...], int]] = {
    # Lazily built plans: the builder returns a DataFrame almost at
    # once and the time goes into executing it (planning, job launch,
    # scans, shuffles, Arrow and pandas UDFs). Relational, per-query
    # overhead and corpus-operator kernel changes show here.
    "lazy_plans": (("relational", "analytics", "llm", "quality"), 18),
    # Eager builders: MLlib fits, partitioned, bucketed and clustered
    # writes, archive and Python-data-source scans and streaming queries
    # run inside the ``queries()[key]`` call, as driver round trips and
    # many small jobs. MLlib, write-path and micro-batch changes show
    # here.
    "eager_builds": (("ml", "scale", "streaming"), 13),
}


def select_keys(module_keys: dict[str, list[str]], modules: tuple[str, ...], stride: int) -> list[str]:
    """Every ``stride``-th key, by name, of the union of ``modules``'
    keys, starting with the first. ``module_keys`` maps a workload
    module name to its keys."""
    if stride < 1:
        raise ValueError("need stride >= 1")
    keys = sorted(k for m in modules for k in module_keys[m])
    return keys[::stride]


def permuted(keys: list[str], seed: int) -> list[str]:
    """The seeded run order: the same seed gives the same order."""
    order = sorted(keys)
    random.Random(seed).shuffle(order)
    return order


def workload_keys(name: str, module_keys: dict[str, list[str]], seed: int) -> list[str]:
    modules, stride = WORKLOADS[name]
    return permuted(select_keys(module_keys, modules, stride), seed)
