"""Per-layer accounting for the traced run (``--trace 1``).

The program is not modified. Layer numbers come from two places:

* spans that this file puts around calls into the program's public
  functions (``sources``, ``plans.pipeline``, the ``operators``
  modules, ``ckpt`` and every eager ``localCheckpoint``), by rebinding the
  module attributes for the life of the run and restoring them afterwards;
* Spark's own status APIs, read from outside: a job group per op phase with
  ``statusTracker`` and the app status store (jobs, stages, tasks, executor
  and shuffle metrics) and a ``QueryExecutionListener`` (Catalyst phase times
  from ``QueryPlanningTracker`` and the Python-worker SQL metrics of the
  executed plan).

Spans live in memory; ``Tracer.metrics`` folds them into the per-layer
metrics once the run ends.
"""

from __future__ import annotations

import importlib
import inspect
import operator
import pkgutil
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "bytesme_etl_batch_pipeline_spark"

# (module, function) -> span name; the operators are added per module.
SOURCE_SPANS = {
    ("sources.tables", "load_table"): "sources.load_table",
    ("sources.files", "read_csv"): "sources.read_csv",
    ("sources.files", "merge_upsert_parquet"): "sources.write",
    ("plans.pipeline", "run_pipeline"): "plans.pipeline",
}
# Python-worker SQL metrics (``PythonSQLMetrics``), timings in ms. Spark
# adds per task: total = worker finish - runner start; boot = worker loop
# start - runner start; init = UDF ready - worker loop start. A pooled worker
# starts its loop when its previous task ends, so boot is negative (and
# dropped: an SQLMetric ignores negative adds) and init holds the time the
# worker sat idle between tasks. Only the total is the op's cost; it already
# contains the real initialisation.
PY_METRICS = {
    "pythonTotalTime": "run_ms",
    "pythonDataSent": "bytes_sent",
    "pythonDataReceived": "bytes_received",
}


# The operator modules whose spans are reported: those that a workload's ops
# call. No op calls bpe, cdc, graph, llm, ml, pq or sampling, so their
# figures would be 0 by construction.
REPORTED_OPERATORS = [
    "aggregate",
    "bloom",
    "categorize",
    "dedup",
    "embed",
    "enrich",
    "joins",
    "multimodal",
    "neardup",
    "normalize",
    "similarity",
    "template",
    "textops",
]


def operator_modules() -> list[str]:
    ops = importlib.import_module(f"{PACKAGE}.operators")
    return sorted(m.name for m in pkgutil.iter_modules(ops.__path__))


class _Span:
    """Callable stand-in for a program function that records one span per
    outermost call. Pickles as the original function, so a wrapped function
    captured by a UDF runs unwrapped on the Python workers."""

    def __init__(self, tracer: "Tracer", name: str, fn):
        self.tracer, self.name, self.fn = tracer, name, fn
        self.__wrapped__ = fn
        self.__name__ = getattr(fn, "__name__", name)
        self.__doc__ = getattr(fn, "__doc__", None)

    def __call__(self, *args, **kwargs):
        return self.tracer.span(self.name, self.fn, args, kwargs)

    def __reduce__(self):
        return operator.itemgetter(0), ((self.fn,),)


@dataclass
class OpRecord:
    name: str
    wall_s: float = 0.0
    build_s: float = 0.0
    catalyst: dict = field(default_factory=lambda: dict.fromkeys(("analysis", "optimization", "planning"), 0.0))
    build_jobs: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    exec_catalyst_s: float = 0.0  # Catalyst time of the exec phase only
    job_s: float = 0.0  # union of exec-phase job intervals
    all_job_s: float = 0.0  # union of all the op's job intervals
    driver_gap_s: float = 0.0  # exec phase: time between jobs with none running
    stage: dict = field(default_factory=dict)
    python: dict = field(default_factory=dict)

    def explained_share(self) -> float:
        """(build + Catalyst + jobs + gaps between jobs) / op wall time."""
        parts = self.build_s + self.exec_catalyst_s + self.job_s + self.driver_gap_s
        return parts / self.wall_s if self.wall_s > 0 else 0.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._scala_sc = self.sc._jsc.sc()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._depth: dict[str, int] = {}
        self.spans: dict[str, list[float]] = {}  # name -> [calls, seconds]
        self.hook_s = 0.0
        self.ops: list[OpRecord] = []
        self._qe_events: list[tuple[str, object]] = []  # (job group, QueryExecution)
        self.storage_peak = 0
        self._listener = None
        self._group = None
        self._seen_stages: set[int] = set()

    # -- spans ---------------------------------------------------------------
    def span(self, name, fn, args, kwargs):
        depth = self._depth.get(name, 0)
        if depth:  # nested call into the same layer: count the outer one only
            return fn(*args, **kwargs)
        self._depth[name] = 1
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            self._depth[name] = 0
            s = self.spans.setdefault(name, [0, 0.0])
            s[0] += 1
            s[1] += dt
            self.hook_s += time.perf_counter() - t0 - dt

    def _rebind(self, fn, wrapper) -> None:
        import sys

        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PACKAGE) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        for (mod_name, fn_name), span in SOURCE_SPANS.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            fn = getattr(mod, fn_name, None)
            if fn is not None:
                self._rebind(fn, _Span(self, span, fn))
        for m in operator_modules():
            mod = importlib.import_module(f"{PACKAGE}.operators.{m}")
            for fn_name, fn in inspect.getmembers(mod, inspect.isfunction):
                if fn_name.startswith("_") or fn.__module__ != mod.__name__:
                    continue
                self._rebind(fn, _Span(self, f"operators.{m}", fn))
        self._patch_local_checkpoint()
        self._register_listeners()

    def reset(self) -> None:
        """Forget the spans recorded so far."""
        self.spans.clear()
        self.hook_s = 0.0
        self.storage_peak = 0
        with self._lock:
            self._qe_events = []

    def _patch_local_checkpoint(self) -> None:
        """Every materialization in the program is a ``localCheckpoint``,
        direct or through ``ckpt.tracked_local_checkpoint``."""
        cls = type(self.spark.range(1))
        orig = cls.localCheckpoint
        tracer = self

        def localCheckpoint(df, eager=True, *args, **kwargs):
            return tracer.span("ckpt.materialize", orig, (df, eager) + args, kwargs)

        self._patched.append((cls, "localCheckpoint", orig))
        cls.localCheckpoint = localCheckpoint

    def _register_listeners(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        tracer = self

        class QueryListener:
            def onSuccess(self, func_name, qe, duration_ns):
                tracer._on_query(func_name, qe)

            def onFailure(self, func_name, qe, exc):
                tracer._on_query(func_name, qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self._listener = QueryListener()
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def close(self) -> None:
        for owner, attr, val in reversed(self._patched):
            setattr(owner, attr, val)
        self._patched.clear()
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    # -- Catalyst and Python-worker metrics from the listener -----------------
    def _on_query(self, func_name, qe) -> None:
        # Runs on the listener thread while the op may still be running:
        # keep only the reference and read it in finish_op, off the clock.
        group = self._group
        if group is not None:  # None: the benchmark's own output checks
            with self._lock:
                self._qe_events.append((group, qe))

    def _query_metrics(self, qe) -> tuple[dict, dict]:
        """Catalyst phase times (QueryPlanningTracker) and Python-worker SQL
        metrics of one executed query."""
        phases = {}
        tracker = qe.tracker().phases()
        for p in ("analysis", "optimization", "planning"):
            opt = tracker.get(p)
            phases[p] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
        py: dict[str, float] = {}
        self._walk_python_metrics(qe.executedPlan(), py)
        return phases, py

    def _walk_python_metrics(self, node, acc: dict) -> None:
        cls = node.getClass().getSimpleName()
        if "Python" in cls or "Arrow" in cls or "InPandas" in cls:
            metrics = node.metrics()
            for key, out in PY_METRICS.items():
                opt = metrics.get(key)
                if opt.isDefined():
                    acc[out] = acc.get(out, 0) + opt.get().value()
        if cls == "AdaptiveSparkPlanExec":
            return self._walk_python_metrics(node.executedPlan(), acc)
        if cls.endswith("QueryStageExec"):
            return self._walk_python_metrics(node.plan(), acc)
        children = node.children()
        for i in range(children.size()):
            self._walk_python_metrics(children.apply(i), acc)

    # -- per-op protocol -------------------------------------------------------
    def phase(self, op_index: int, kind: str) -> None:
        """Tag the jobs that follow as op ``op_index``'s ``build`` or ``exec``
        phase."""
        self._group = f"perfbench-{op_index}-{kind}"
        self.sc.setJobGroup(self._group, self._group)

    def idle(self) -> None:
        """Stop attributing jobs and queries to an op."""
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
        self._group = None

    def finish_op(self, op_index: int, name: str, build_s: float, wall_s: float) -> OpRecord:
        t_hook = time.perf_counter()
        self._await_listener(f"perfbench-{op_index}-exec")
        self.idle()
        rec = OpRecord(name=name, wall_s=wall_s, build_s=build_s)
        tracker, store = self.sc.statusTracker(), self._scala_sc.statusStore()
        intervals, all_intervals = [], []
        for kind in ("build", "exec"):
            group = f"perfbench-{op_index}-{kind}"
            for jid in tracker.getJobIdsForGroup(group):
                job = store.job(jid)
                rec.jobs += 1
                rec.build_jobs += kind == "build"
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    span = (job.submissionTime().get().getTime() / 1000.0, job.completionTime().get().getTime() / 1000.0)
                    all_intervals.append(span)
                    if kind == "exec":
                        intervals.append(span)
                stage_ids = job.stageIds()
                for i in range(stage_ids.size()):
                    self._add_stage(rec, stage_ids.apply(i))
        rec.job_s, rec.driver_gap_s = _union_and_gaps(intervals)
        rec.all_job_s = _union_and_gaps(all_intervals)[0]
        mine = f"perfbench-{op_index}-"
        with self._lock:  # anything else is left over from an op that raised
            events = [e for e in self._qe_events if e[0].startswith(mine)]
            self._qe_events = []
        for group, qe in events:
            phases, py = self._query_metrics(qe)
            for p, v in phases.items():
                rec.catalyst[p] += v
            if group.endswith("-exec"):
                rec.exec_catalyst_s += sum(phases.values())
            for k, v in py.items():
                rec.python[k] = rec.python.get(k, 0) + v
        storage = sum(r.memSize() + r.diskSize() for r in self._scala_sc.getRDDStorageInfo())
        self.storage_peak = max(self.storage_peak, storage)
        self.ops.append(rec)
        self.hook_s += time.perf_counter() - t_hook
        return rec

    def _await_listener(self, group: str, timeout_s: float = 5.0) -> None:
        deadline = time.perf_counter() + timeout_s
        while time.perf_counter() < deadline:
            with self._lock:
                if any(e[0] == group for e in self._qe_events):
                    return
            time.sleep(0.005)

    def _add_stage(self, rec: OpRecord, stage_id: int) -> None:
        if stage_id in self._seen_stages:  # a shuffle stage shared by two jobs
            return
        self._seen_stages.add(stage_id)
        try:
            sd = self._scala_sc.statusStore().lastStageAttempt(stage_id)
        except Exception:  # py4j wraps NoSuchElementException: stage never ran
            return
        if not sd.submissionTime().isDefined():  # skipped (shuffle reused)
            return
        rec.stages += 1
        rec.tasks += sd.numTasks()
        rec.failed_tasks += sd.numFailedTasks()
        st = rec.stage
        for key, val in (
            ("run_ms", sd.executorRunTime()),
            ("cpu_ns", sd.executorCpuTime()),
            ("gc_ms", sd.jvmGcTime()),
            ("input_bytes", sd.inputBytes()),
            ("input_records", sd.inputRecords()),
            ("output_bytes", sd.outputBytes()),
            ("shuffle_write_bytes", sd.shuffleWriteBytes()),
            ("shuffle_read_bytes", sd.shuffleReadBytes()),
            ("fetch_wait_ms", sd.shuffleFetchWaitTime()),
            ("disk_spill_bytes", sd.diskBytesSpilled()),
        ):
            st[key] = st.get(key, 0) + val

    def dump(self, path: str) -> None:
        """Write the per-op records and the layer spans as JSON."""
        import dataclasses
        import json

        doc = {
            "ops": [dict(dataclasses.asdict(r), explained_share=r.explained_share()) for r in self.ops],
            "spans": {k: {"calls": c, "s": t} for k, (c, t) in sorted(self.spans.items())},
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)

    # -- folding ---------------------------------------------------------------
    def metrics(self, cores: int) -> dict[str, tuple[float, str]]:
        ops = self.ops
        tot = lambda f: float(sum(f(r) for r in ops))  # noqa: E731
        stage = lambda k: tot(lambda r: r.stage.get(k, 0))  # noqa: E731
        py = lambda k: tot(lambda r: r.python.get(k, 0))  # noqa: E731
        span_calls = lambda n: float(self.spans.get(n, [0, 0.0])[0])  # noqa: E731
        span_s = lambda n: float(self.spans.get(n, [0, 0.0])[1])  # noqa: E731
        wall = tot(lambda r: r.wall_s)
        build = tot(lambda r: r.build_s)
        busy_s = tot(lambda r: r.all_job_s)
        run_s = stage("run_ms") / 1000.0
        m: dict[str, tuple[float, str]] = {
            "plans.build_s": (build, "s"),
            "plans.build_jobs": (tot(lambda r: r.build_jobs), "count"),
            "plans.build_share": (build / wall if wall else 0.0, "ratio"),
            "plans.pipeline_s": (span_s("plans.pipeline"), "s"),
            "sources.load_table_calls": (span_calls("sources.load_table"), "count"),
            "sources.load_table_s": (span_s("sources.load_table"), "s"),
            "sources.scan_bytes": (stage("input_bytes"), "bytes"),
            "sources.scan_rows": (stage("input_records"), "count"),
            "sources.read_csv_s": (span_s("sources.read_csv"), "s"),
            "sources.write_s": (span_s("sources.write"), "s"),
            "ckpt.materializations": (span_calls("ckpt.materialize"), "count"),
            "ckpt.materialize_s": (span_s("ckpt.materialize"), "s"),
            "ckpt.storage_bytes_peak": (float(self.storage_peak), "bytes"),
            "catalyst.analysis_s": (tot(lambda r: r.catalyst["analysis"]), "s"),
            "catalyst.optimization_s": (tot(lambda r: r.catalyst["optimization"]), "s"),
            "catalyst.planning_s": (tot(lambda r: r.catalyst["planning"]), "s"),
            "scheduler.jobs": (tot(lambda r: r.jobs), "count"),
            "scheduler.stages": (tot(lambda r: r.stages), "count"),
            "scheduler.tasks": (tot(lambda r: r.tasks), "count"),
            "scheduler.failed_tasks": (tot(lambda r: r.failed_tasks), "count"),
            "scheduler.driver_gap_s": (tot(lambda r: r.driver_gap_s), "s"),
            "executor.run_s": (run_s, "s"),
            "executor.cpu_s": (stage("cpu_ns") / 1e9, "s"),
            "executor.gc_s": (stage("gc_ms") / 1000.0, "s"),
            "executor.core_util": (run_s / (cores * busy_s) if busy_s else 0.0, "ratio"),
            "shuffle.write_bytes": (stage("shuffle_write_bytes"), "bytes"),
            "shuffle.read_bytes": (stage("shuffle_read_bytes"), "bytes"),
            "shuffle.fetch_wait_s": (stage("fetch_wait_ms") / 1000.0, "s"),
            "spill.disk_bytes": (stage("disk_spill_bytes"), "bytes"),
            "python.run_s": (py("run_ms") / 1000.0, "s"),
            "python.bytes_sent": (py("bytes_sent"), "bytes"),
            "python.bytes_received": (py("bytes_received"), "bytes"),
        }
        for mod in REPORTED_OPERATORS:
            m[f"operators.{mod}.calls"] = (span_calls(f"operators.{mod}"), "count")
            m[f"operators.{mod}.s"] = (span_s(f"operators.{mod}"), "s")
        explained = [abs(1.0 - r.explained_share()) <= 0.10 for r in ops]
        m["trace.reconciled_share"] = (sum(explained) / len(ops) if ops else 0.0, "ratio")
        m["trace.hook_s"] = (self.hook_s, "s")
        return m


def _union_and_gaps(intervals: list[tuple[float, float]]) -> tuple[float, float]:
    """Total time covered by the intervals, and the uncovered time between
    the first start and the last end."""
    if not intervals:
        return 0.0, 0.0
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    covered += cur_e - cur_s
    span = max(e for _, e in intervals) - min(s for s, _ in intervals)
    return covered, span - covered
