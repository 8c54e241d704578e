"""Outside-in tracer for the traced benchmark run.

The tracer wraps the public functions of the engine's modules from the
outside (the library is not changed) and records one span per call:
name, start, end, parent and phase. Spans stay in memory and are
written out when the run ends. A phase is one top-level step of a
workload (fit, score, add, ...). Spark jobs are attributed to the
phase by job-id range, because jobs submitted from driver threads
(``add_shards``) carry no job group, and to spans by submission time.
Job, stage, Catalyst, codegen and py4j counters are read from the
driver JVM and need no UI. Every py4j call of a phase is timed on the
Python side, so the driver's own view of how long it waited on jobs
can be set against Spark's job times.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import importlib
import json
import os
import sys
import threading
import time
from collections import defaultdict

# (layer, module, attribute path). Functions are wrapped under every
# name a module of the engine binds them to, because callers look them
# up by the name they imported (binning.py imports solve_binary by
# name, so patching core.solver alone would miss its calls).
TARGETS = [
    ("operators.prebin", "optbinning_spark.operators.prebinning",
     ["compute_prebins"]),
    ("operators.stats", "optbinning_spark.operators.aggregation",
     ["value_stats", "bucket_value_stats", "weighted_percentile",
      "snap_splits_to_edges", "bin_stats_from_values", "bin_stats",
      "assemble_bin_stats", "categorical_value_stats",
      "stacked_bin_stats"]),
    ("operators.transform_expr", "optbinning_spark.operators.transform",
     ["transform_expr"]),
    ("operators.table_build", "optbinning_spark.operators.binning_table",
     ["BinningTableBinary.__init__", "BinningTableBinary.build",
      "BinningTableBinary.analysis", "BinningTableContinuous.__init__",
      "BinningTableContinuous.build", "BinningTableContinuous.analysis"]),
    ("core.solve", "optbinning_spark.core.solver",
     ["solve_binary", "solve_continuous", "solve_multiclass",
      "solve_scenarios"]),
    ("core.cart", "optbinning_spark.core.tree", ["cart_splits"]),
    ("core.trend", "optbinning_spark.core.auto_monotonic",
     ["resolve_trend", "decide_trend"]),
    ("binning.fit", "optbinning_spark.binning", ["_BaseOptimalBinning.fit"]),
    ("binning_process.fit", "optbinning_spark.binning_process",
     ["BinningProcess.fit"]),
    ("scorecard.fit", "optbinning_spark.scorecard", ["Scorecard.fit"]),
    ("scorecard.table", "optbinning_spark.scorecard", ["Scorecard.table"]),
    ("piecewise.fit", "optbinning_spark.piecewise",
     ["OptimalPWBinning.fit"]),
    ("monitoring.fit", "optbinning_spark.monitoring",
     ["ScorecardMonitoring.fit"]),
    ("sketch.add", "optbinning_spark.streaming.sketch",
     ["OptimalBinningSketch.add", "BinningProcessSketch.add",
      "add_shards"]),
    ("sketch.merge", "optbinning_spark.streaming.sketch",
     ["OptimalBinningSketch.merge", "BinningProcessSketch.merge"]),
    ("sketch.solve", "optbinning_spark.streaming.sketch",
     ["OptimalBinningSketch.solve", "BinningProcessSketch.solve"]),
    ("dedup.clusters", "optbinning_spark.pipeline.dedup",
     ["duplicate_clusters"]),
]

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# DataFrame methods that run a Spark action and return rows to the
# driver (first/take/head end in collect).
_ACTIONS = ["collect", "toPandas", "count", "approxQuantile",
            "localCheckpoint", "checkpoint"]


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "phase",
                 "thread", "actions", "rows", "site")

    def __init__(self, name, layer, start, parent, phase, thread):
        self.name = name
        self.layer = layer
        self.start = start
        self.end = None
        self.parent = parent
        self.phase = phase
        self.thread = thread
        self.actions = 0
        self.rows = 0
        self.site = None

    def as_dict(self, idx):
        return {"id": idx, "name": self.name, "layer": self.layer,
                "start": self.start, "end": self.end, "parent": self.parent,
                "phase": self.phase, "thread": self.thread,
                "actions": self.actions, "rows": self.rows,
                "site": self.site}


def _caller_site(method: str) -> str:
    """``method at file:line`` of the first frame outside pyspark and
    this file: the engine line that ran the action. (Spark's own call
    site would name this wrapper.)"""
    import pyspark

    skip = (os.path.dirname(pyspark.__file__), __file__)
    f = sys._getframe(2)
    while f is not None and f.f_code.co_filename.startswith(skip):
        f = f.f_back
    if f is None:
        return method
    path = os.path.relpath(f.f_code.co_filename, _ROOT)
    return f"{method} at {path}:{f.f_lineno}"


class Phase:
    def __init__(self, name, start, first_job, counters):
        self.name = name
        self.start = start
        self.end = None
        self.first_job = first_job  # first job id that may belong here
        self.last_job = None
        self.c0 = counters
        self.c1 = None
        self.harvested = False
        self.calls = []  # (start, end) of every py4j call in the phase


class Tracer:
    """Span recorder plus JVM counter reader for one SparkSession.
    Tracing is switched on and off with ``active``; wrappers stay
    installed and cost one attribute test while it is off."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[Span] = []
        self.phases: list[Phase] = []
        self.jobs: dict[int, dict] = {}
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._py4j = 0
        self._py4j_off = threading.local()
        self._phase = None
        self._installed = False

    # -- wrapping --------------------------------------------------------
    def install(self):
        if self._installed:
            return
        self._installed = True
        for layer, modname, attrs in TARGETS:
            mod = importlib.import_module(modname)
            for attr in attrs:
                if "." in attr:
                    cls_name, meth = attr.split(".")
                    cls = getattr(mod, cls_name)
                    fn = cls.__dict__[meth]
                    setattr(cls, meth, self._wrap(fn, layer, attr))
                else:
                    fn = getattr(mod, attr)
                    wrapped = self._wrap(fn, layer, attr)
                    for m in list(sys.modules.values()):
                        name = getattr(m, "__name__", "") or ""
                        if (name.startswith("optbinning_spark")
                                and vars(m).get(attr) is fn):
                            setattr(m, attr, wrapped)
        # the concrete DataFrame class of this session (pyspark.sql's
        # DataFrame is an interface over the classic implementation)
        df_cls = type(self.spark.range(0))
        for meth in _ACTIONS:
            fn = getattr(df_cls, meth)
            setattr(df_cls, meth, self._wrap(fn, "driver.collect",
                                             f"DataFrame.{meth}",
                                             action=True))
        client_cls = type(self.sc._gateway._gateway_client)
        send = client_cls.send_command
        tracer = self

        @functools.wraps(send)
        def send_command(client, *a, **kw):
            ph = tracer._phase
            if ph is None or getattr(tracer._py4j_off, "on", False):
                return send(client, *a, **kw)
            t0 = time.time()
            try:
                return send(client, *a, **kw)
            finally:
                with tracer._lock:
                    tracer._py4j += 1
                    ph.calls.append((t0, time.time()))

        client_cls.send_command = send_command

    def _stack(self):
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _wrap(self, fn, layer, name, action=False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            stack = tracer._stack()
            if action and any(tracer.spans[i].layer == "driver.collect"
                              for i in stack):
                return fn(*a, **kw)  # first -> take -> collect: count once
            if action:
                for i in stack:
                    tracer.spans[i].actions += 1
            span = tracer._open(name, layer)
            if action:
                span.site = _caller_site(name.split(".")[-1])
            try:
                out = fn(*a, **kw)
                if action and isinstance(out, list):
                    span.rows = len(out)
                elif action and hasattr(out, "shape"):
                    span.rows = int(out.shape[0])
                return out
            finally:
                stack.pop()
                span.end = time.time()

        return wrapper

    def _open(self, name, layer) -> Span:
        """Record a span starting now, child of this thread's innermost
        open span, and push it on this thread's stack."""
        stack = self._stack()
        span = Span(name, layer, time.time(), stack[-1] if stack else None,
                    self._phase.name if self._phase else None,
                    threading.get_ident())
        with self._lock:
            self.spans.append(span)
            stack.append(len(self.spans) - 1)
        return span

    # -- phases ----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name, layer):
        """A span opened by the benchmark itself."""
        if not self.active:
            yield None
            return
        span = self._open(name, layer)
        try:
            yield span
        finally:
            self._stack().pop()
            span.end = time.time()

    def begin_phase(self, name):
        first = self._max_job_id() + 1
        counters = self._jvm_counters()
        self._phase = Phase(name, time.time(), first, counters)
        self.active = True

    def end_phase(self):
        ph = self._phase
        ph.end = time.time()
        self.active = False
        self._phase = None
        ph.c1 = self._jvm_counters()
        ph.last_job = self._max_job_id()
        self.phases.append(ph)
        return ph

    def harvest(self):
        """Read job and stage data of every phase not read yet. Called
        after each traced step, outside its timing; the status store
        keeps the latest 1000 jobs, far more than one step runs."""
        for ph in self.phases:
            if not ph.harvested:
                self._harvest(ph.first_job, ph.last_job)
                ph.harvested = True

    # -- JVM reads (not counted as py4j calls of the program) -----------
    @contextlib.contextmanager
    def _quiet(self):
        self._py4j_off.on = True
        try:
            yield
        finally:
            self._py4j_off.on = False

    def _max_job_id(self) -> int:
        with self._quiet():
            ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _jvm_counters(self) -> dict:
        jvm = self.sc._jvm
        with self._quiet():
            m = jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor \
                .getCurrentMetrics()
            cg = jvm.org.apache.spark.metrics.source.CodegenMetrics
            gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
                .CodeGenerator
            return {
                "rule_ns": m.time(),
                "rule_runs": m.numRuns(),
                "rule_effective": m.numEffectiveRuns(),
                "compiles": cg.METRIC_COMPILATION_TIME().getCount(),
                "compile_ns": gen.compileTime(),
                "py4j": self._py4j,
            }

    def _harvest(self, first: int, last: int):
        store = self.sc._jsc.sc().statusStore()
        with self._quiet():
            for jid in range(first, last + 1):
                try:
                    jd = store.job(jid)
                except Exception:  # evicted or never run
                    continue
                sub = jd.submissionTime()
                comp = jd.completionTime()
                sids = jd.stageIds()
                stages = []
                for i in range(sids.size()):
                    s = store.lastStageAttempt(sids.apply(i))
                    stages.append({
                        "id": s.stageId(),
                        "status": s.status().toString(),
                        "tasks": s.numTasks(),
                        "failed_tasks": s.numFailedTasks(),
                        "run_ms": s.executorRunTime(),
                        "gc_ms": s.jvmGcTime(),
                        "shuffle_write": s.shuffleWriteBytes(),
                        "shuffle_read": s.shuffleReadBytes(),
                        "input": s.inputBytes(),
                        "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    })
                self.jobs[jid] = {
                    "id": jid,
                    "call_site": jd.name(),
                    "status": jd.status().toString(),
                    "start": sub.get().getTime() / 1000.0
                    if sub.isDefined() else None,
                    "end": comp.get().getTime() / 1000.0
                    if comp.isDefined() else None,
                    "stages": stages,
                }

    # -- reporting ------------------------------------------------------
    def phase_jobs(self, ph):
        return [self.jobs[j] for j in range(ph.first_job, ph.last_job + 1)
                if j in self.jobs]

    def dump(self, path: str, extra: dict):
        out = dict(extra)
        out["spans"] = [s.as_dict(i) for i, s in enumerate(self.spans)]
        out["phases"] = [
            {"name": p.name, "start": p.start, "end": p.end,
             "jobs": [p.first_job, p.last_job]} for p in self.phases]
        out["jobs"] = [dict(self.jobs[j], site=self.job_site(self.jobs[j]))
                       for j in sorted(self.jobs)]
        with open(path, "w") as fh:
            json.dump(out, fh)

    def job_site(self, job) -> str:
        """The engine line of the action that submitted a job, else
        Spark's own call site."""
        t = job["start"]
        if t is not None:
            for s in self.spans:
                if s.site is not None and s.start <= t <= s.end:
                    return s.site
        return job["call_site"]


def interval_union(intervals, lo=None, hi=None) -> float:
    """Total length covered by a set of [start, end] intervals,
    optionally clipped to [lo, hi]."""
    segs = []
    for a, b in intervals:
        if a is None or b is None:
            continue
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            segs.append((a, b))
    segs.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_metrics(tracer: Tracer, sketch_adds: int) -> tuple[dict, list[str]]:
    """Per-layer metrics over every traced phase, plus a printable
    per-phase breakdown. ``sketch_adds`` is the number of per-variable
    sketch adds the traced step made."""
    spans = tracer.spans
    jobs_all = []
    for ph in tracer.phases:
        jobs_all.extend(tracer.phase_jobs(ph))
    job_iv = [(j["start"], j["end"]) for j in jobs_all]

    def outermost(layer):
        """Spans of a layer with no ancestor in the same layer."""
        out = []
        for s in spans:
            if s.layer != layer or s.end is None:
                continue
            p = s.parent
            nested = False
            while p is not None:
                if spans[p].layer == layer:
                    nested = True
                    break
                p = spans[p].parent
            if not nested:
                out.append(s)
        return out

    def total_s(layer):
        return sum(s.end - s.start for s in outermost(layer))

    def calls(layer):
        return sum(1 for s in spans if s.layer == layer)

    def jobs_in(span_list):
        n = 0
        for j in jobs_all:
            if j["start"] is None:
                continue
            if any(s.start <= j["start"] <= s.end for s in span_list):
                n += 1
        return n

    children = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)

    def self_time(idx):
        s = spans[idx]
        covered = interval_union(
            [(spans[c].start, spans[c].end) for c in children[idx]
             if spans[c].thread == s.thread], s.start, s.end)
        return (s.end - s.start) - covered

    stages = {}
    for j in jobs_all:
        for st in j["stages"]:
            stages[st["id"]] = st
    ran = [st for st in stages.values() if st["status"] != "SKIPPED"]

    wall = sum(p.end - p.start for p in tracer.phases)
    job_s = sum(phase_job_s(tracer, p) for p in tracer.phases)

    def cdelta(key):
        return sum(p.c1[key] - p.c0[key] for p in tracer.phases)

    actions = outermost("driver.collect")
    collect_s = sum(
        (s.end - s.start) - interval_union(job_iv, s.start, s.end)
        for s in actions)
    fits = outermost("binning.fit")
    sc_fits = [i for i, s in enumerate(spans) if s.layer == "scorecard.fit"]
    rule_runs = cdelta("rule_runs")

    m = {
        "spark.jobs": len(jobs_all),
        "spark.stages": len(ran),
        "spark.tasks": sum(st["tasks"] for st in ran),
        "spark.job_s": job_s,
        "spark.executor_run_s": sum(st["run_ms"] for st in ran) / 1e3,
        "spark.jvm_gc_s": sum(st["gc_ms"] for st in ran) / 1e3,
        "spark.shuffle_write_bytes": sum(st["shuffle_write"] for st in ran),
        "spark.shuffle_read_bytes": sum(st["shuffle_read"] for st in ran),
        "spark.input_bytes": sum(st["input"] for st in ran),
        "spark.spill_bytes": sum(st["spill"] for st in ran),
        "spark.failed_tasks": sum(st["failed_tasks"] for st in ran),
        "spark.outside_jobs_s": wall - job_s,
        "driver.job_wait_s": sum(driver_wait_s(tracer, p)
                                 for p in tracer.phases),
        "catalyst.rule_s": cdelta("rule_ns") / 1e9,
        "catalyst.rule_runs": rule_runs,
        "catalyst.effective_ratio": (cdelta("rule_effective") / rule_runs
                                     if rule_runs else 0.0),
        "codegen.compiles": cdelta("compiles"),
        "codegen.compile_s": cdelta("compile_ns") / 1e9,
        "py4j.calls": cdelta("py4j"),
        "driver.collect_s": collect_s,
        "driver.collect_rows": sum(s.rows for s in actions),
        "operators.prebin_s": total_s("operators.prebin"),
        "operators.prebin_calls": calls("operators.prebin"),
        "operators.stats_s": total_s("operators.stats"),
        "operators.stats_calls": calls("operators.stats"),
        "operators.transform_expr_s": total_s("operators.transform_expr"),
        "operators.table_build_s": total_s("operators.table_build"),
        "core.solve_s": total_s("core.solve"),
        "core.solve_calls": calls("core.solve"),
        "core.cart_s": total_s("core.cart"),
        "core.trend_s": total_s("core.trend"),
        "binning.fit_s": total_s("binning.fit"),
        "binning.fit_jobs": jobs_in(fits),
        "binning.fallback_frac": (sum(1 for s in fits if s.actions > 1)
                                  / len(fits) if fits else 0.0),
        "binning_process.fit_s": total_s("binning_process.fit"),
        "binning_process.fit_jobs": jobs_in(outermost("binning_process.fit")),
        "scorecard.fit_s": total_s("scorecard.fit"),
        "scorecard.estimator_s": sum(self_time(i) for i in sc_fits),
        "scorecard.score_s": total_s("scorecard.score"),
        "scorecard.table_s": total_s("scorecard.table"),
        "piecewise.fit_s": total_s("piecewise.fit"),
        "monitoring.fit_s": total_s("monitoring.fit"),
        "monitoring.jobs": jobs_in(outermost("monitoring.fit")),
        "sketch.add_s": total_s("sketch.add"),
        "sketch.add_jobs": (jobs_in(outermost("sketch.add"))
                            / max(sketch_adds, 1)),
        "sketch.merge_s": total_s("sketch.merge"),
        "sketch.solve_s": total_s("sketch.solve"),
        "dedup.clusters_s": total_s("dedup.clusters"),
        "dedup.jobs": jobs_in(outermost("dedup.clusters")),
    }

    lines = []
    by_name = defaultdict(list)
    for p in tracer.phases:
        by_name[p.name].append(p)
    lines.append(f"  {'phase':<14}{'n':>4}{'wall_s':>9}{'jobs':>6}"
                 f"{'job_s':>8}{'wait_s':>8}{'outside_s':>10}"
                 f"{'sum/wall':>9}")
    for name, phs in by_name.items():
        w = sum(p.end - p.start for p in phs)
        js = sum(phase_job_s(tracer, p) for p in phs)
        wait = sum(driver_wait_s(tracer, p) for p in phs)
        nj = sum(len(tracer.phase_jobs(p)) for p in phs)
        ratio = (js + w - wait) / w if w else 1.0
        flag = "" if abs(ratio - 1.0) <= 0.05 else "  > 5% off"
        lines.append(f"  {name:<14}{len(phs):>4}{w:>9.3f}{nj:>6}{js:>8.3f}"
                     f"{wait:>8.3f}{w - wait:>10.3f}{ratio:>9.4f}{flag}")
    return m, lines


def phase_job_s(tracer: Tracer, ph) -> float:
    """Spark's clock: time in the phase with at least one job running,
    from the jobs' submission and completion times."""
    return interval_union([(j["start"], j["end"])
                           for j in tracer.phase_jobs(ph)], ph.start, ph.end)


def driver_wait_s(tracer: Tracer, ph) -> float:
    """The driver's clock: time in the phase that some driver thread
    spent inside a py4j call during which a job was submitted, timed
    on the Python side. The job times only pick which calls count.
    Spark's job submission times are whole milliseconds, truncated."""
    subs = sorted(j["start"] for j in tracer.phase_jobs(ph)
                  if j["start"] is not None)
    waits = []
    for a, b in ph.calls:
        k = bisect.bisect_left(subs, a - 0.001)
        if k < len(subs) and subs[k] <= b:
            waits.append((a, b))
    return interval_union(waits, ph.start, ph.end)


def fit_job_sites(tracer: Tracer, span_name="_BaseOptimalBinning.fit"):
    """Call site of every job the first traced binning fit ran."""
    for s in tracer.spans:
        if s.name == span_name and s.end is not None:
            out = []
            for p in tracer.phases:
                for j in tracer.phase_jobs(p):
                    t = j["start"]
                    if t is None or not s.start <= t <= s.end:
                        continue
                    out.append((j["id"], tracer.job_site(j),
                                len(j["stages"]), (j["end"] or t) - t))
            return out
    return []
