"""Spans around the package's layers, and the Spark work they caused.

The package is not edited. ``Tracer.install`` replaces each public
function of a layer module, and each public method of a class defined
there, with a timing wrapper, in every loaded module namespace that holds
it: the defining module, the package re-exports and from-imports such as
``plans.pipeline.preprocess_data``. ``uninstall`` puts the originals
back. Wrappers keep the original's ``__module__`` and ``__qualname__``,
so a function shipped to Python workers pickles by reference and the
workers run the original.

Each span records layer, function, start, end, parent and the range of
Spark job ids the driver handed out while it was open. A job belongs to
the deepest span whose range holds it. That needs no job groups, so jobs
fired from the pipeline's sample thread pool are still attributed. A span
opened on a thread with no open span takes the main thread's innermost
open span as its parent. A lazy operator only builds a plan: the Spark
work it describes runs under the span of the action that executes the
plan, usually ``collect``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict

PKG = "ai_etl_pipeline_spark"
LAYER_MODULES = {
    "session": ["session"],
    "sources.readers": ["sources.readers"],
    "sources.writers": ["sources.writers"],
    "sources.versioned": ["sources.versioned"],
    "plans": ["plans.pipeline"],
    "semantic": ["semantic.providers", "semantic.adapters"],
    **{
        f"operators.{m}": [f"operators.{m}"]
        for m in ("clean", "distinct", "enrich", "mapping", "graph", "dedup", "linkage",
                  "cdc", "relational", "multimodal", "similarity", "embedstats",
                  "textstats", "packing")
    },
    "functions": ["functions.pandas_udfs", "functions.portable"],
    "streaming": ["streaming.stateful", "streaming.windows"],
}
# entry.build: a registry query function's own time; collect: the final action
LAYERS = [*LAYER_MODULES, "entry.build", "collect"]
LAYER_METRICS = ("self_s", "jobs", "task_s", "shuffle_mb")
MB = 1e6

LAYER, NAME, PARENT, START, END, J0, J1 = range(7)


class SparkCounters:
    """Job and stage figures of a SparkContext, read without the UI."""

    def __init__(self, sc):
        jsc = sc._jsc.sc()
        gw = sc._gateway
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._mapper = gw.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(gw.jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.jvm_pid = gw.jvm.java.lang.ProcessHandle.current().pid()
        self._jvm = gw.jvm
        self._memory = gw.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()

    def next_job(self) -> int:
        return self._dag.nextJobId()

    def next_stage(self) -> int:
        return self._dag.nextStageId()

    def stages(self, lo: int, hi: int) -> list[dict]:
        """Every attempt of stages ``lo <= id < hi`` still in the status store."""
        raw = self._store.stageList(None, False, False, self._no_quantiles, None)
        return [s for s in json.loads(self._mapper.writeValueAsString(raw))
                if lo <= s["stageId"] < hi]

    def job_stages(self, lo: int, hi: int) -> dict[int, list[int]]:
        raw = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        return {j["jobId"]: j["stageIds"] for j in raw if lo <= j["jobId"] < hi}

    def live_heap_mb(self) -> float:
        """Driver JVM heap in use after a full GC: what is still reachable,
        cached blocks included."""
        # the first collection queues shuffle and broadcast state for the
        # ContextCleaner thread; the second one runs after it has let go
        self._jvm.java.lang.System.gc()
        time.sleep(0.5)
        self._jvm.java.lang.System.gc()
        return self._memory.getHeapMemoryUsage().getUsed() / MB

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024 / MB
        raise RuntimeError("VmHWM missing from /proc status")


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Busy time, shuffle write, spill and failures summed over stage attempts."""
    return {
        "task_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
        "failed_tasks": sum(s["numFailedTasks"] + (s["attemptId"] > 0) for s in stages),
    }


class Tracer:
    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.spans: list[list] = []
        self.values_sent = 0
        self.values_changed = 0
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = defaultdict(list)
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def open(self, layer: str, name: str) -> int:
        stack = self._stacks[threading.get_ident()]
        main = self._stacks[threading.main_thread().ident]
        parent = stack[-1] if stack else (main[-1] if main else None)
        rec = [layer, name, parent, time.perf_counter(), None, self.counters.next_job(), None]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        rec = self.spans[idx]
        rec[J1] = self.counters.next_job()
        rec[END] = time.perf_counter()
        self._stacks[threading.get_ident()].pop()

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        idx = self.open(layer, name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(idx)

    def reset(self) -> None:
        self.spans = []
        self.values_sent = self.values_changed = 0

    # -- wrapping ----------------------------------------------------------
    def _wrap(self, layer: str, fn):
        tracer = self
        name = fn.__qualname__

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.open(layer, name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(idx)
            if name == "translate_distinct_values":
                # {column: {original: translated}}: what the provider was sent
                for mapping in out.values():
                    tracer.values_sent += len(mapping)
                    tracer.values_changed += sum(k != v for k, v in mapping.items())
            return out

        traced.__signature__ = inspect.signature(fn)
        return traced

    def install(self) -> None:
        originals: dict[int, object] = {}
        for layer, mods in LAYER_MODULES.items():
            for short in mods:
                mod = importlib.import_module(f"{PKG}.{short}")
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                        continue
                    if inspect.isfunction(obj) and not hasattr(obj, "evalType"):
                        originals[id(obj)] = (obj, self._wrap(layer, obj))
                    elif inspect.isclass(obj):
                        for m, fn in list(vars(obj).items()):
                            if not m.startswith("_") and inspect.isfunction(fn):
                                self._patch(obj, m, self._wrap(layer, fn))
        holders = [m for n, m in list(sys.modules.items())
                   if m is not None and (n == PKG or n.startswith(PKG + ".") or n == "__spark_entry__")]
        for mod in holders:
            for attr, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._patch(mod, attr, hit[1])

    def _patch(self, holder, attr: str, new) -> None:
        self._patches.append((holder, attr, getattr(holder, attr)))
        setattr(holder, attr, new)

    def uninstall(self) -> None:
        for holder, attr, old in reversed(self._patches):
            setattr(holder, attr, old)
        self._patches = []

    # -- attribution ---------------------------------------------------------
    def layer_table(self, job_lo: int, job_hi: int, stage_lo: int, stage_hi: int) -> dict:
        """Per-layer self time, jobs, busy time and shuffle for the spans
        recorded since the last ``reset``, plus the pass totals."""
        spans = self.spans
        depth = [0] * len(spans)
        for i, s in enumerate(spans):
            if s[PARENT] is not None:
                depth[i] = depth[s[PARENT]] + 1
        out = {layer: dict.fromkeys(LAYER_METRICS, 0.0) for layer in LAYERS}
        for i, t in enumerate(self_times(spans)):
            if spans[i][LAYER] in out:
                out[spans[i][LAYER]]["self_s"] += t
        owner: dict[int, int] = {}
        for j in range(job_lo, job_hi):
            best = None
            for i, s in enumerate(spans):
                if s[J0] <= j < s[J1] and (best is None or depth[i] >= depth[best]):
                    best = i
            if best is not None:
                owner[j] = best
        stages = self.counters.stages(stage_lo, stage_hi)
        by_stage = defaultdict(list)
        for st in stages:
            by_stage[st["stageId"]].append(st)
        first_job: dict[int, int] = {}
        for j, ids in sorted(self.counters.job_stages(job_lo, job_hi).items()):
            for sid in ids:
                first_job.setdefault(sid, j)
        final_jobs = 0
        for j, i in owner.items():
            s = spans[i]
            if s[LAYER] in out:
                out[s[LAYER]]["jobs"] += 1
            if s[LAYER] in ("collect", "sources.writers") and _is_op_child(spans, i):
                final_jobs += 1
        for sid, attempts in by_stage.items():
            i = owner.get(first_job.get(sid, -1))
            if i is not None and spans[i][LAYER] in out:
                t = stage_totals(attempts)
                out[spans[i][LAYER]]["task_s"] += t["task_s"]
                out[spans[i][LAYER]]["shuffle_mb"] += t["shuffle_mb"]
        totals = stage_totals(stages)
        n_jobs = job_hi - job_lo
        return {
            "layers": out,
            "spill_mb": totals["spill_mb"],
            "failed_tasks": totals["failed_tasks"],
            "jobs": n_jobs,
            "final_jobs": final_jobs,
            "unattributed_jobs": n_jobs - len(owner),
        }

    def dump(self, path: str) -> None:
        keys = ("layer", "name", "parent", "start", "end", "job_lo", "job_hi")
        with open(path, "w") as fh:
            json.dump([dict(zip(keys, s)) for s in self.spans], fh)


def _is_op_child(spans: list[list], i: int) -> bool:
    """True for a span opened directly by the benchmark's op (the final action)."""
    p = spans[i][PARENT]
    return p is not None and spans[p][LAYER] == "op"


def self_times(spans: list[list]) -> list[float]:
    """Each span's self time: the part of its interval when none of its
    children is open. Time when several spans without an open child
    overlap (threads) is split evenly between them, so self times add up
    to the time covered by the spans."""
    events = sorted([(s[START], 1, i) for i, s in enumerate(spans)]
                    + [(s[END], 0, i) for i, s in enumerate(spans)])
    open_children = [0] * len(spans)
    leaves: set[int] = set()
    out = [0.0] * len(spans)
    last = events[0][0] if events else 0.0
    for t, opening, i in events:
        if leaves:
            share = (t - last) / len(leaves)
            for leaf in leaves:
                out[leaf] += share
        last = t
        p = spans[i][PARENT]
        if opening:
            leaves.add(i)
            if p is not None:
                open_children[p] += 1
                leaves.discard(p)
        else:
            leaves.discard(i)
            if p is not None:
                open_children[p] -= 1
                if open_children[p] == 0 and spans[p][END] > t:
                    leaves.add(p)
    return out
