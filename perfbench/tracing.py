"""Traced runs: spans around calls into the engine's modules, plus Spark's
own counters, read from outside the engine.

Spans have a name, start, end, parent span and execution id; they are kept
in memory and written out once, at exit. Nothing here edits an engine
file: catalog and cache functions are wrapped on their modules, and
executor, Catalyst and streaming figures come from Spark's status store,
query-execution tracker and a ``StreamingQueryListener``.

Every reading is taken after an execution's last timer has stopped, so a
traced execution's wall time holds only the query call and the action.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener

_CLK_TCK = os.sysconf("SC_CLK_TCK")

# (module, function, span name). Operator modules bind the catalog and
# cache functions with ``from ... import``, so the wrappers must be in
# place before the registry imports them.
WRAPPED = (
    ("presto_truffle_spark.catalog", "load_table", "catalog.load_table"),
    ("presto_truffle_spark.catalog", "register_views", "catalog.register_views"),
    ("presto_truffle_spark.cache", "scoped_persist", "cache.scoped_persist"),
)

EXEC_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "input_rows",
    "input_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "output_bytes",
)

# Per-execution figures summed over the keys of one warm pass.
PASS_SUMS = (
    "operators.build_s",
    "catalog.load_table_calls",
    "catalog.load_table_s",
    "catalog.register_views_calls",
    "catalog.schema_jobs",
    "catalyst.analysis_s",
    "catalyst.optimization_s",
    "catalyst.planning_s",
    *(f"exec.{c}" for c in EXEC_COUNTERS),
    "python.worker_cpu_s",
    "python.workers_started",
    "streaming.batches",
    "streaming.add_batch_s",
    "streaming.query_planning_s",
    "streaming.commit_s",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
    "cache.persist_calls",
)


class _StreamProgress(StreamingQueryListener):
    """Collects micro-batch progress reports; Spark calls it from its
    listener thread, after the query that made them may have returned."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._progress: list = []
        self._running: set = set()

    def onQueryStarted(self, event) -> None:
        # Spark posts this one synchronously, inside ``start()``.
        with self._lock:
            self._running.add(event.runId)

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self._progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._running.discard(event.runId)

    def take(self, timeout_s: float = 10.0) -> list:
        """Progress reported so far, once every started query has reported
        its end (the last event a query posts) or ``timeout_s`` passed."""
        deadline = time.perf_counter() + timeout_s
        while self._running and time.perf_counter() < deadline:
            time.sleep(0.005)
        with self._lock:
            out, self._progress = self._progress, []
        return out


def _proc_table() -> dict[int, tuple[str, int, int]]:
    """pid -> (command name, parent pid, CPU ticks of it and its reaped
    children)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended between listdir and open
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(entry)] = (name, int(fields[1]), ticks)
    return out


def _python_workers(root_pid: int) -> dict[int, int]:
    """pid -> CPU ticks of every Python process below ``root_pid`` (the
    JVM): the pyspark daemon and the workers it forks."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        name, _, ticks = table[pid]
        if name.startswith("python"):
            out[pid] = ticks
        todo.extend(children.get(pid, ()))
    return out


class Tracer:
    """Span recorder and per-execution counter reader.

    An uninstalled tracer records nothing and wraps nothing: untraced
    runs use one. In an installed one, ``enabled`` switches recording off
    for some passes, so a traced run can also time untraced passes and
    report the overhead."""

    def __init__(self, nproc: int, installed: bool) -> None:
        self.nproc = nproc
        self.installed = installed
        self.enabled = installed
        self.spans: list[dict] = []
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._exec_id: int | None = None
        self._calls: Counter = Counter()
        self._t0 = time.perf_counter()
        self._spark = None
        self._listener = None

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "exec": self._exec_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self._exec_id is not None:
                self._calls[name] += 1

    def wrap_engine_modules(self) -> None:
        """Wrap the catalog and cache entry points; call after importing
        those modules and before the registry loads the operators."""
        import importlib

        for module_name, attr, span_name in WRAPPED:
            module = importlib.import_module(module_name)
            fn = getattr(module, attr)

            @functools.wraps(fn)
            def traced(*args, _fn=fn, _name=span_name, **kwargs):
                with self.span(_name):
                    return _fn(*args, **kwargs)

            setattr(module, attr, traced)

    def _span_seconds(self, name: str, exec_id: int) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["exec"] == exec_id and s["name"] == name
        )

    # -- executions ----------------------------------------------------

    def attach(self, spark) -> None:
        """Start reading counters from ``spark``'s context."""
        self._spark = spark
        self._listener = _StreamProgress()
        spark.streams.addListener(self._listener)
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_status = sc._gateway.jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._jvm_pid = sc._gateway.proc.pid

    @contextlib.contextmanager
    def execution(self, key: str, phase: str):
        """Span one execution; its jobs go to a build and an action group."""
        if not self.enabled:
            yield
            return
        exec_id = len(self.records)
        self._exec_id = exec_id
        self._calls = Counter()
        self._workers_before = _python_workers(self._jvm_pid)
        self._listener.take()  # progress left by an execution that failed
        self._group("build")
        try:
            with self.span(f"execution:{key}"):
                yield
        finally:
            self._spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self._exec_id = None
        self.records.append({"exec": exec_id, "key": key, "phase": phase})

    def _group(self, part: str) -> None:
        self._spark.sparkContext.setJobGroup(f"perfbench-{len(self.records)}-{part}", part)

    def enter_action(self) -> None:
        if self.enabled:
            self._group("action")

    def read_counters(self, df, latency_s: float, action_s: float) -> None:
        """Fill the last execution's record; call after every timer."""
        if not self.enabled:
            return
        rec = self.records[-1]
        exec_id = rec["exec"]
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        build = self._jobs(f"perfbench-{exec_id}-build")
        action = self._jobs(f"perfbench-{exec_id}-action")
        rec["latency_s"] = latency_s
        rec["action_s"] = action_s
        rec["action_run_s"] = action["run_s"]
        rec["operators.build_s"] = self._span_seconds("operators.build", exec_id)
        rec["catalog.load_table_calls"] = self._calls["catalog.load_table"]
        rec["catalog.load_table_s"] = self._span_seconds("catalog.load_table", exec_id)
        rec["catalog.register_views_calls"] = self._calls["catalog.register_views"]
        rec["catalog.schema_jobs"] = build["jobs"]
        rec["cache.persist_calls"] = self._calls["cache.scoped_persist"]
        for c in EXEC_COUNTERS:
            rec[f"exec.{c}"] = build[c] + action[c]
        rec.update(self._catalyst(df))
        rec.update(self._streaming())
        after = _python_workers(self._jvm_pid)
        before = self._workers_before
        rec["python.worker_cpu_s"] = (
            sum(t - before.get(p, 0) for p, t in after.items()) / _CLK_TCK
        )
        rec["python.workers_started"] = len(after.keys() - before.keys())

    def _jobs(self, group: str) -> Counter:
        """Executor counters of every job in ``group``; skipped stages,
        which ran no task, are left out."""
        out: Counter = Counter()
        seen = set()
        for job_id in self._spark.sparkContext.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            stage_ids = self._store.job(job_id).stageIds()
            for i in range(stage_ids.length()):
                attempts = self._store.stageData(
                    stage_ids.apply(i), False, self._no_status, False, self._no_quantiles
                )
                for a in range(attempts.length()):
                    s = attempts.apply(a)
                    ident = (s.stageId(), s.attemptId())
                    if ident in seen or s.numCompleteTasks() + s.numFailedTasks() == 0:
                        continue
                    seen.add(ident)
                    out["stages"] += 1
                    out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                    out["failed_tasks"] += s.numFailedTasks()
                    out["run_s"] += s.executorRunTime() / 1e3
                    out["cpu_s"] += s.executorCpuTime() / 1e9
                    out["gc_s"] += s.jvmGcTime() / 1e3
                    out["input_rows"] += s.inputRecords()
                    out["input_bytes"] += s.inputBytes()
                    out["output_bytes"] += s.outputBytes()
                    out["shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    @staticmethod
    def _catalyst(df) -> dict:
        out = {}
        phases = df._jdf.queryExecution().tracker().phases() if df is not None else None
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase) if phases is not None else None
            out[f"catalyst.{phase}_s"] = (
                summary.get().durationMs() / 1e3 if summary is not None and summary.isDefined() else 0.0
            )
        return out

    def _streaming(self) -> dict:
        progress = self._listener.take()
        d = [p.durationMs for p in progress]
        ops = [o for p in progress for o in p.stateOperators]
        return {
            "streaming.batches": len(progress),
            "streaming.add_batch_s": sum(x.get("addBatch", 0) for x in d) / 1e3,
            "streaming.query_planning_s": sum(x.get("queryPlanning", 0) for x in d) / 1e3,
            "streaming.commit_s": sum(
                x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d
            )
            / 1e3,
            "streaming.state_rows": sum(o.numRowsTotal for o in ops),
            "streaming.state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
        }

    def cached_bytes(self) -> int:
        infos = self._spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    # -- summary -------------------------------------------------------

    def setup_seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def pass_metrics(self, keys: list[str]) -> dict[str, float]:
        """Per-layer figures of one warm pass: for each key the median over
        its traced warm executions, summed over the keys."""
        warm = [r for r in self.records if r["phase"] == "warm" and "latency_s" in r]
        by_key = {k: [r for r in warm if r["key"] == k] for k in keys}
        missing = [k for k, rs in by_key.items() if not rs]
        if missing:
            raise RuntimeError(f"no traced warm execution of {missing}")

        def pass_sum(metric: str) -> float:
            return sum(statistics.median(r[metric] for r in rs) for rs in by_key.values())

        out = {m: pass_sum(m) for m in PASS_SUMS}
        out["exec.slot_busy_share"] = pass_sum("action_run_s") / (
            pass_sum("action_s") * self.nproc
        )
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "executions": self.records}, f)
