"""Per-layer tracing from outside the program.

Three sources, all read from the benchmark's own code:

* **spans** around calls into each module's public entry points,
  installed by rebinding the function on every loaded
  ``flink_commons_spark`` module that exposes it and restored at exit;
* **Spark's own execution records**: a ``QueryExecutionListener``
  receives every finished batch action and streaming micro-batch with
  its Catalyst phase times and executed plan, whose SQL metrics are
  summed per node kind; a ``StreamingQueryListener`` receives each
  micro-batch's progress (durations and state-operator metrics);
* **job and task counts** from the application status store.

Nothing here runs in an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from collections import defaultdict

#: SQL metric name -> per-layer counter; times are summed over tasks
_NODE_METRICS = {
    "shuffleBytesWritten": "jvm.shuffle_bytes",
    "shuffleWriteTime": "jvm.shuffle_write_s",
    "fetchWaitTime": "jvm.fetch_wait_s",
    "sortTime": "jvm.sort_s",
    "aggTime": "jvm.agg_s",
    "spillSize": "jvm.spill_bytes",
    "pythonBootTime": "python.boot_s",
    "pythonInitTime": "python.init_s",
    "pythonTotalTime": "python.total_s",
    "pythonDataSent": "python.sent_bytes",
    "pythonDataReceived": "python.recv_bytes",
}

#: SQL metric type -> factor to seconds (other types are counts or bytes)
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}

#: every per-layer metric the traced run reports, with its unit
LAYER_METRICS = {
    "session.build_s": "s",
    "functions.register_s": "s",
    "plans.load_s": "s",
    "plans.adapt_s": "s",
    "plans.adapt_calls": "count",
    "plans.mr_s": "s",
    "plans.mr_calls": "count",
    "actions.submit_s": "s",
    "catalog.build_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "jvm.exec_s": "s",
    "jvm.jobs": "count",
    "jvm.tasks": "count",
    "jvm.scan_rows": "count",
    "jvm.shuffle_bytes": "bytes",
    "jvm.shuffle_write_s": "s",
    "jvm.fetch_wait_s": "s",
    "jvm.sort_s": "s",
    "jvm.agg_s": "s",
    "jvm.spill_bytes": "bytes",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.total_s": "s",
    "python.sent_bytes": "bytes",
    "python.recv_bytes": "bytes",
    "python.compute_share": "ratio",
    "stream.batches": "count",
    "stream.empty_share": "ratio",
    "stream.add_batch_s": "s",
    "stream.planning_s": "s",
    "stream.offsets_s": "s",
    "stream.wal_s": "s",
    "stream.commit_s": "s",
    "stream.add_batch_share": "ratio",
    "state.instances": "count",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.rows_removed": "count",
    "state.updated_share": "ratio",
    "state.memory_bytes": "bytes",
    "state.update_s": "s",
    "state.commit_s": "s",
    "sources.lag_s": "s",
    "sources.backlog_events": "count",
    "sources.files_per_batch": "count",
    "gen.late_s": "s",
    "mem.peak_rss_mb": "MB",
    "open.max_eps_1cpu": "events/s",
    "trace.total_s": "s",
    "trace.overhead_s": "s",
}

#: public entry points wrapped in spans: (module, attribute, span name)
ENTRY_POINTS = (
    ("flink_commons_spark.plans.script", "load_statements_from_text", "plans.load"),
    ("flink_commons_spark.plans.dialect", "adapt_sql", "plans.adapt"),
    ("flink_commons_spark.plans.match_recognize", "execute_match_recognize", "plans.mr"),
)


class Tracer:
    """Spans and counters of one traced run, kept in memory."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op: str | None = None
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self._listeners: list = []
        self._spark = None
        self.progress: list[dict] = []
        self._held: dict[int, object] = {}
        self.since_ms = 0
        self.frozen = False

    # ----------------------------------------------------------- spans

    def span(self, name: str):
        return contextlib.nullcontext() if self.frozen else _Span(self, name)

    def freeze(self) -> None:
        """End the measured window: later calls (reading results back,
        the single-thread baseline) record no spans."""
        self.frozen = True

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every ENTRY_POINTS function and ``SqlSubmitAction.run``."""
        import importlib

        from flink_commons_spark.actions.sql_submit import SqlSubmitAction

        for modname, attr, name in ENTRY_POINTS:
            original = getattr(importlib.import_module(modname), attr)
            traced = self.wrap(original, name)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("flink_commons_spark") and (
                    getattr(mod, attr, None) is original
                ):
                    setattr(mod, attr, traced)
                    self._restore.append((mod, attr, original))
        self._restore.append((SqlSubmitAction, "run", SqlSubmitAction.run))
        SqlSubmitAction.run = self.wrap(SqlSubmitAction.run, "actions.submit")

    def uninstall(self) -> None:
        for obj, attr, original in reversed(self._restore):
            setattr(obj, attr, original)
        self._restore.clear()
        if self._spark is not None:
            for kind, listener in self._listeners:
                try:
                    if kind == "stream":
                        self._spark.streams.removeListener(listener)
                    else:
                        self._spark._jsparkSession.listenerManager().unregister(listener)
                except Exception:  # the session may already be stopped
                    pass
        self._listeners.clear()

    # -------------------------------------------------- spark listeners

    def attach(self, spark) -> None:
        """Register the execution and streaming-progress listeners."""
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self._spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        qel = _ExecutionListener(self)
        spark._jsparkSession.listenerManager().register(qel)
        self._listeners.append(("exec", qel))

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                t0 = time.perf_counter()
                rec = json.loads(event.progress.json)
                with tracer._lock:
                    tracer.progress.append(rec)
                tracer.overhead_s += time.perf_counter() - t0

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        sl = _Progress()
        spark.streams.addListener(sl)
        self._listeners.append(("stream", sl))

    def reset(self) -> None:
        """Start the measured window: drop the counters and records that
        set-up produced. Spans stay, so set-up layers are still reported."""
        self.flush()
        with self._lock:
            self.counters.clear()
            self.progress.clear()
            self._held.clear()
        self.since_ms = int(time.time() * 1000)

    def flush(self) -> None:
        """Wait until Spark's listener bus has delivered every event."""
        t0 = time.perf_counter()
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.overhead_s += time.perf_counter() - t0

    def watch(self, query) -> None:
        """Hold every micro-batch execution of a ``foreachBatch`` query.

        Such a batch runs its plan inside the user's write, so no
        execution event carries the stateful part. The query's current
        execution is polled every 50 ms (a micro-batch lasts far longer)
        and read once the query has stopped, in ``unwatch``."""
        self._watch_stop = threading.Event()
        execution = query._jsq.streamingQuery()

        def poll():
            while not self._watch_stop.wait(0.05):
                try:
                    ex = execution.lastExecution()
                except Exception:  # the gateway may be closing
                    return
                if ex is not None:
                    self._held.setdefault(ex.currentBatchId(), ex)

        self._watcher = threading.Thread(target=poll, name="perfbench-watch", daemon=True)
        self._watcher.start()

    def unwatch(self) -> None:
        self._watch_stop.set()
        self._watcher.join(10)
        for ex in self._held.values():
            # run time is in the write's own execution event
            self.record_execution(ex, 0.0)
        self._held.clear()

    def record_execution(self, qe, duration_s: float) -> None:
        t0 = time.perf_counter()
        c = defaultdict(float)
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs() / 1e3
        for phase in ("analysis", "optimization", "planning"):
            c[f"catalyst.{phase}_s"] += phases.get(phase, 0.0)
        c["jvm.exec_s"] += max(
            0.0, duration_s - phases.get("optimization", 0.0) - phases.get("planning", 0.0)
        )
        for node_name, metrics in _plan_metrics(qe.executedPlan()):
            for key, (value, kind) in metrics.items():
                if key == "numOutputRows" and "Scan" in node_name.split(" ")[0]:
                    c["jvm.scan_rows"] += value
                elif key in _NODE_METRICS:
                    c[_NODE_METRICS[key]] += value * _TIME_SCALE.get(kind, 1.0)
        with self._lock:
            for k, v in c.items():
                self.counters[k] += v
        self.overhead_s += time.perf_counter() - t0

    # ---------------------------------------------------------- totals

    def count_jobs(self, spark) -> None:
        """Jobs and tasks submitted in the measured window."""
        store = spark.sparkContext._jsc.sc().statusStore()
        it = store.jobsList(None).iterator()
        while it.hasNext():
            job = it.next()
            sub = job.submissionTime()
            if sub.isDefined() and sub.get().getTime() >= self.since_ms:
                self.counters["jvm.jobs"] += 1
                self.counters["jvm.tasks"] += job.numTasks()

    def stream_totals(self) -> None:
        """Micro-batch and state-store counters from the progress records."""
        c = self.counters
        total_trigger = 0.0
        state_rows_seen = 0.0
        for rec in self.progress:
            d = rec.get("durationMs", {})
            c["stream.batches"] += 1
            if rec.get("numInputRows", 0) == 0:
                c["stream.empty_share"] += 1
            c["stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
            c["stream.planning_s"] += d.get("queryPlanning", 0) / 1e3
            c["stream.offsets_s"] += (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3
            c["stream.wal_s"] += d.get("walCommit", 0) / 1e3
            c["stream.commit_s"] += d.get("commitOffsets", 0) / 1e3
            total_trigger += d.get("triggerExecution", 0) / 1e3
            instances = 0
            for op in rec.get("stateOperators", []):
                instances += op.get("numStateStoreInstances", 0)
                c["state.rows_updated"] += op.get("numRowsUpdated", 0)
                c["state.rows_removed"] += op.get("numRowsRemoved", 0)
                c["state.update_s"] += op.get("allUpdatesTimeMs", 0) / 1e3
                c["state.commit_s"] += op.get("commitTimeMs", 0) / 1e3
                c["state.memory_bytes"] = max(c["state.memory_bytes"], op.get("memoryUsedBytes", 0))
                state_rows_seen += op.get("numRowsTotal", 0)
            c["state.instances"] = max(c["state.instances"], instances)
        # final state size: the last batch's total of each query
        last = {}
        for rec in self.progress:
            last[rec.get("id")] = sum(op.get("numRowsTotal", 0) for op in rec.get("stateOperators", []))
        c["state.rows_total"] = float(sum(last.values()))
        if c["stream.batches"]:
            c["stream.empty_share"] /= c["stream.batches"]
        c["stream.add_batch_share"] = c["stream.add_batch_s"] / total_trigger if total_trigger else 0.0
        c["state.updated_share"] = c["state.rows_updated"] / state_rows_seen if state_rows_seen else 0.0

    def layers(self) -> dict[str, float]:
        """Every LAYER_METRICS entry (0 where the layer did no work)."""
        c = self.counters
        for s in self.spans:
            key = {
                "session.build": "session.build_s",
                "functions.register": "functions.register_s",
                "plans.load": "plans.load_s",
                "actions.submit": "actions.submit_s",
                "catalog.build": "catalog.build_s",
            }.get(s["name"])
            if key:
                c[key] += s["end"] - s["start"]
            if s["name"] == "plans.adapt":
                c["plans.adapt_s"] += s["end"] - s["start"]
                c["plans.adapt_calls"] += 1
            if s["name"] == "plans.mr":
                c["plans.mr_s"] += s["end"] - s["start"]
                c["plans.mr_calls"] += 1
        # Spark reports starting, initializing and running a Python worker
        # as three separate phases (worker.py stamps boot, init, finish)
        spent = c["python.boot_s"] + c["python.init_s"] + c["python.total_s"]
        c["python.compute_share"] = c["python.total_s"] / spent if spent else 0.0
        c["trace.overhead_s"] = self.overhead_s
        return {k: float(c.get(k, 0.0)) for k in LAYER_METRICS}

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the part of it covered
        by child spans."""
        children = defaultdict(list)
        for s in self.spans:
            children[s["parent"]].append(s)
        out = defaultdict(float)
        for s in self.spans:
            covered = _covered(
                [(c["start"], c["end"]) for c in children[s["id"]]], s["start"], s["end"]
            )
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        stack = t._local.__dict__.setdefault("stack", [])
        with t._lock:
            self.rec = {
                "id": len(t.spans),
                "name": self.name,
                "parent": stack[-1] if stack else None,
                "op": t.op,
                "start": time.perf_counter(),
                "end": None,
            }
            t.spans.append(self.rec)
        stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.tracer._local.stack.pop()
        return False


class _ExecutionListener:
    """py4j implementation of Spark's ``QueryExecutionListener``."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):
        try:
            self.tracer.record_execution(qe, duration_ns / 1e9)
        except Exception as exc:  # never let tracing fail the query
            self.tracer.counters["trace.errors"] += 1
            print(f"trace: execution record failed: {exc}", file=sys.stderr)

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals if e is not None):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _plan_metrics(plan):
    """``(node name, {metric: (raw value, metric type)})`` for every node of
    an executed plan, descending through adaptive plans, query stages and
    subqueries."""
    seen = set()
    todo = [plan]
    while todo:
        node = todo.pop()
        key = node.hashCode()
        if key in seen:
            continue
        seen.add(key)
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if hasattr(node, "plan") and name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metric = kv._2()
            metrics[kv._1()] = (metric.value(), metric.metricType())
        yield name, metrics
        for seq in (node.children(), node.subqueries()):
            sit = seq.iterator()
            while sit.hasNext():
                todo.append(sit.next())
