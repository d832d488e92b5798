"""Spans around calls into the package's layers, with the Spark jobs
and stages each span started.

A span records its name, start, end, parent span and run id. While a
span is open its id is the Spark job group of the calling thread, so
every job records the span that started it; jobs started from other
driver threads carry no group and are given to the innermost span open
when they were submitted. Spans are kept in memory and, with their job
and stage metrics read from Spark's in-process status store, written
out when the run ends.

Hooks wrap module attributes that the package looks up at call time
(``cli.cmd_etl`` imports ``sources.cricsheet.read_cricsheet`` inside the
function, for example), so no package file is edited. A hooked function
that returns a lazy DataFrame returns a ``Deferred`` proxy instead: the
named actions run on it, or on frames derived from it, are timed as
spans of the same layer.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import statistics
import time

CODEGEN_FALLBACK = "Code grows beyond 64 KB"
MB = 1 << 20


class Tracer:
    """Spans of one run. A disabled tracer records nothing."""

    def __init__(self, spark, run_id: str, log_path: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.log_path = log_path
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.phase = "setup"
        self._hooks: list[tuple[object, str, object]] = []
        self._seen: set[int] = set()

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, kind: str = "call"):
        """Time a block as span ``name``; ``kind`` is "call" for a call
        into a layer, "deferred" for an action on what it returned."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "kind": kind,
            "parent": self.stack[-1] if self.stack else None,
            "run": self.run_id,
            "phase": self.phase,
            "start": time.time(),
        }
        self.spans.append(rec)
        self.stack.append(sid)
        log_from = _log_size(self.log_path)
        self.sc.setJobGroup(f"{self.run_id}:{sid}", name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            rec["codegen_fallbacks"] = _count_lines(
                self.log_path, log_from, CODEGEN_FALLBACK
            )
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(
                    f"{self.run_id}:{self.stack[-1]}",
                    self.spans[self.stack[-1]]["name"],
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # -- hooks ---------------------------------------------------------
    def hook(
        self, module: str, attr: str, layer: str, deferred=(),
        deferred_layer: str | None = None,
    ) -> None:
        """Wrap ``module.attr`` in a span named ``layer``. With
        ``deferred`` names, DataFrames it returns are wrapped so those
        actions run in spans named ``deferred_layer`` (default
        ``layer``)."""
        if not self.enabled:
            return
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def traced(*args, **kw):
            with self.span(layer):
                out = orig(*args, **kw)
            return _defer(
                out, self, deferred_layer or layer, frozenset(deferred)
            )

        self.patch(mod, attr, traced)

    def patch(self, mod, attr: str, fn) -> None:
        """Replace ``mod.attr`` with ``fn`` until ``unhook``."""
        self._hooks.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, fn)

    def unhook(self) -> None:
        for mod, attr, orig in reversed(self._hooks):
            setattr(mod, attr, orig)
        self._hooks.clear()

    # -- status store ----------------------------------------------------
    def harvest(self) -> None:
        """Attach to each closed span the jobs (with their stage metrics)
        it started. Call after the spans of interest have closed."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        prefix = self.run_id + ":"
        for j in seq(store.jobsList(None)):
            if j.jobId() in self._seen:
                continue
            sub = _opt_ms(j.submissionTime())
            group = j.jobGroup()
            sid = None
            if group.isDefined() and str(group.get()).startswith(prefix):
                sid = int(str(group.get())[len(prefix):])
            elif not group.isDefined() and sub is not None:
                sid = self._innermost_at(sub / 1000.0)
            if sid is None or "dur_s" not in self.spans[sid]:
                continue
            self._seen.add(j.jobId())
            self.spans[sid].setdefault("jobs", []).append(
                _job_record(store, j, sub)
            )

    def _innermost_at(self, t: float) -> int | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= s.get("end", float("inf")):
                best = s["id"]  # later spans are nested deeper
        return best

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def seq(s) -> list:
    """A Scala Seq returned through py4j, as a list."""
    return [s.apply(i) for i in range(s.size())]


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def _job_record(store, j, sub) -> dict:
    done = _opt_ms(j.completionTime())
    stages = []
    for sid in seq(j.stageIds()):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # a skipped stage never ran: no attempt stored
            continue
        if str(st.status()) == "SKIPPED":
            continue
        stages.append({
            "stage": st.stageId(),
            "attempt": st.attemptId(),
            "tasks": st.numTasks(),
            "run_ms": st.executorRunTime(),
            "cpu_ns": st.executorCpuTime(),
            "gc_ms": st.jvmGcTime(),
            "input_b": st.inputBytes(),
            "output_b": st.outputBytes(),
            "output_rows": st.outputRecords(),
            "shuffle_read_b": st.shuffleReadBytes(),
            "shuffle_write_b": st.shuffleWriteBytes(),
            "spill_b": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            "failed_tasks": st.numFailedTasks(),
        })
    return {
        "job": j.jobId(),
        "submit_ms": sub,
        "end_ms": done,
        "failed_tasks": j.numFailedTasks(),
        "stages": stages,
    }


def task_skew(spark, stage: dict) -> float:
    """max/median task run time of one stage."""
    gw = spark.sparkContext._gateway
    qs = gw.new_array(gw.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    store = spark.sparkContext._jsc.sc().statusStore()
    summ = store.taskSummary(stage["stage"], stage["attempt"], qs)
    if not summ.isDefined():
        return 1.0
    run = summ.get().executorRunTime()
    med, mx = run.apply(0), run.apply(1)
    return mx / med if med > 0 else 1.0


# -- proxies ---------------------------------------------------------------
class Deferred:
    """A DataFrame (or writer) whose named actions run in a span; the
    DataFrames its other methods return are wrapped the same way."""

    def __init__(self, target, tracer: Tracer, layer: str, actions: frozenset):
        self._t = target
        self._tracer = tracer
        self._layer = layer
        self._actions = actions

    def __getattr__(self, attr):
        val = getattr(self._t, attr)
        if attr in self._actions:
            if not callable(val):  # a property such as .write
                return Deferred(val, self._tracer, self._layer, _WRITES)

            def action(*a, **kw):
                with self._tracer.span(self._layer, "deferred"):
                    return val(*a, **kw)

            return action
        if not callable(val):
            return val

        def derive(*a, **kw):
            return _defer(val(*a, **kw), self._tracer, self._layer, self._actions)

        return derive


_WRITES = frozenset({"parquet", "json", "csv", "orc", "save", "saveAsTable"})


def _defer(out, tracer, layer, actions):
    from pyspark.sql import DataFrame, DataFrameWriter

    if not actions:
        return out
    if isinstance(out, tuple):
        return tuple(_defer(o, tracer, layer, actions) for o in out)
    if isinstance(out, DataFrameWriter):
        return Deferred(out, tracer, layer, _WRITES)
    if isinstance(out, DataFrame):
        return Deferred(out, tracer, layer, actions)
    return out


# -- driver log ----------------------------------------------------------------
def _log_size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def _count_lines(path: str, start: int, needle: str) -> int:
    try:
        with open(path, "rb") as fh:
            fh.seek(start)
            return fh.read().count(needle.encode())
    except OSError:
        return 0


# -- per-layer summaries ---------------------------------------------------------
def subtree_jobs(spans: list[dict], sid: int) -> list[dict]:
    """Jobs started by a span or any span nested in it."""
    out = list(spans[sid].get("jobs", []))
    for s in spans:
        if s["parent"] == sid:
            out += subtree_jobs(spans, s["id"])
    return out


def job_gap_ms(span: dict, jobs: list[dict]) -> float:
    """Span wall time covered by no running job."""
    lo, hi = span["start"] * 1000.0, span["end"] * 1000.0
    ivs = sorted(
        (max(lo, j["submit_ms"]), min(hi, j["end_ms"] or hi))
        for j in jobs
        if j["submit_ms"] is not None
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, hi - lo - covered)


def stage_sum(jobs: list[dict], key: str) -> float:
    return float(sum(st[key] for j in jobs for st in j["stages"]))


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
