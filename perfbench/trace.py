"""In-memory span tracer for the traced run.

`Tracer.install()` wraps the public functions of the traced
`thrill_spark` modules at run time, from here, and rebinds every name
that refers to them in every loaded `thrill_spark` module (so
``from thrill_spark.ordering import with_index`` call sites are traced
too). A span is (name, parent, start, end, first job id, end job id,
tag). Self time is a span minus its child spans; the Spark jobs of a
span are the job ids handed out while it was open, minus its children's.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import statistics
import sys
import time
from contextlib import contextmanager

ORDERING_FNS = (
    "release_persisted", "with_index", "sort_by", "prefix_scan", "prefix_sum",
    "zip_dfs", "sliding_window", "flat_window_partial", "disjoint_window",
    "reduce_to_index", "group_to_index", "merge_sorted", "concat",
)
ALGORITHM_FNS = ("connected_components", "suffix_array", "chunked_chars")
FUNCTION_MODULES = ("dedup", "text")

# layer -> modules whose public functions are wrapped
LAYER_MODULES = {
    "session": ["thrill_spark.session"],
    "catalog": ["thrill_spark.catalog"],
    "ordering": ["thrill_spark.ordering"],
    "operators": [
        "thrill_spark.operators." + m
        for m in ("basic", "reduce", "join", "merge", "skew", "actions")
    ],
    "algorithms": ["thrill_spark.plans.algorithms"],
    "functions": ["thrill_spark.functions." + m for m in FUNCTION_MODULES],
}

# every per-layer metric the traced run prints, with its unit
PER_LAYER_METRICS: dict[str, str] = {
    "session.get_spark_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.action_s": "s",
    "plans.action_jobs": "count",
    "ordering.calls": "count",
    "ordering.self_s": "s",
    "ordering.jobs": "count",
    **{f"ordering.{fn}.self_s": "s" for fn in ORDERING_FNS},
    "operators.calls": "count",
    "operators.self_s": "s",
    **{
        f"algorithms.{fn}.{m}": u
        for fn in ALGORITHM_FNS
        for m, u in (("calls", "count"), ("self_s", "s"), ("jobs", "count"))
    },
    **{f"functions.{m}.self_s": "s" for m in FUNCTION_MODULES},
    "spark.stages": "count",
    "spark.single_task_stages": "count",
    "spark.no_stage_running_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "proc.jvm_cpu_s": "s",
    "proc.pyworker_cpu_s": "s",
    "proc.client_cpu_s": "s",
    "scratch.bytes_written": "bytes",
    "trace.pass_s": "s",
}

NAME, PARENT, T0, T1, J0, J1, TAG = range(7)


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.tag = "setup"
        self.next_job_id = lambda: 0

    def _open(self, name: str) -> list:
        rec = [name, self._stack[-1] if self._stack else -1,
               time.perf_counter(), 0.0, self.next_job_id(), 0, self.tag]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        return rec

    def _close(self, rec: list) -> None:
        self._stack.pop()
        rec[J1] = self.next_job_id()
        rec[T1] = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        rec = self._open(name)
        try:
            yield
        finally:
            self._close(rec)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rec = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(rec)

        return traced

    def install(self) -> None:
        """Wrap the layer modules' public functions."""
        importlib.import_module("thrill_spark.plans.queries")
        wrappers = {}
        for layer, modnames in LAYER_MODULES.items():
            for modname in modnames:
                mod = importlib.import_module(modname)
                short = modname.rsplit(".", 1)[-1]
                for n, obj in list(vars(mod).items()):
                    if (
                        inspect.isfunction(obj)
                        and obj.__module__ == modname
                        and not n.startswith("_")
                        # pandas/Python UDF objects carry Spark attributes
                        # that the engine inspects; leave them untouched
                        and not hasattr(obj, "evalType")
                    ):
                        name = f"{layer}.{n}" if layer in ("session", "catalog", "ordering", "algorithms") \
                            else f"{layer}.{short}.{n}"
                        wrappers[id(obj)] = (obj, self.wrap(obj, name))
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("thrill_spark") or mod is None:
                continue
            for n, obj in list(vars(mod).items()):
                hit = wrappers.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, n, hit[1])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"fields": ["name", "parent", "start", "end", "job0", "job1", "tag"],
                 "spans": self.spans},
                f,
            )


def span_totals(spans: list[list], tag) -> dict[str, float]:
    """Sum per span name, over the spans with this tag, of: calls,
    inclusive seconds, self seconds and self jobs."""
    child_s: dict[int, float] = {}
    child_j: dict[int, int] = {}
    for s in spans:
        if s[PARENT] >= 0:
            child_s[s[PARENT]] = child_s.get(s[PARENT], 0.0) + s[T1] - s[T0]
            child_j[s[PARENT]] = child_j.get(s[PARENT], 0) + s[J1] - s[J0]
    out: dict[str, float] = {}

    def add(key, v):
        out[key] = out.get(key, 0) + v

    for i, s in enumerate(spans):
        if s[TAG] != tag:
            continue
        name, dur, jobs = s[NAME], s[T1] - s[T0], s[J1] - s[J0]
        self_s = dur - child_s.get(i, 0.0)
        self_j = jobs - child_j.get(i, 0)
        layer = name.split(".", 1)[0]
        add(f"{name}.calls", 1)
        add(f"{name}.s", dur)
        add(f"{name}.jobs", jobs)
        add(f"{name}.self_s", self_s)
        add(f"{name}.self_jobs", self_j)
        add(f"{layer}.calls", 1)
        add(f"{layer}.self_s", self_s)
        add(f"{layer}.self_jobs", self_j)
        if layer == "functions":
            add(name.rsplit(".", 1)[0] + ".self_s", self_s)
    return out


def pass_layer_metrics(spans: list[list], tag) -> dict[str, float]:
    """The span-derived per-layer metrics of one traced pass."""
    t = span_totals(spans, tag)
    g = lambda k: t.get(k, 0)  # noqa: E731
    m = {
        "catalog.load_table_calls": g("catalog.load_table.calls"),
        "catalog.load_table_s": g("catalog.load_table.s"),
        "plans.build_s": g("plans.build.s"),
        "plans.build_jobs": g("plans.build.jobs"),
        "plans.action_s": g("plans.action.s"),
        "plans.action_jobs": g("plans.action.jobs"),
        "ordering.calls": g("ordering.calls"),
        "ordering.self_s": g("ordering.self_s"),
        "ordering.jobs": g("ordering.self_jobs"),
        "operators.calls": g("operators.calls"),
        "operators.self_s": g("operators.self_s"),
    }
    for fn in ORDERING_FNS:
        m[f"ordering.{fn}.self_s"] = g(f"ordering.{fn}.self_s")
    for fn in ALGORITHM_FNS:
        m[f"algorithms.{fn}.calls"] = g(f"algorithms.{fn}.calls")
        m[f"algorithms.{fn}.self_s"] = g(f"algorithms.{fn}.self_s")
        m[f"algorithms.{fn}.jobs"] = g(f"algorithms.{fn}.self_jobs")
    for mod in FUNCTION_MODULES:
        m[f"functions.{mod}.self_s"] = g(f"functions.{mod}.self_s")
    return m


def median_metrics(per_pass: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
