"""Traced runs: spans and per-layer counters, gathered from outside the
engine.

Nothing here edits the engine. Layers are observed three ways:

- **wrappers** around the public functions of ``functions.cache`` and
  ``sources.tables``, installed at every module binding that imported
  them, and around the warehouse sinks in ``streaming.pipeline._SINKS``;
- **Spark's status stores**: the ``AppStatusStore`` for jobs and stages
  and the SQL status store for the Python-worker metrics of Arrow nodes;
- **a StreamingQueryListener** for micro-batch progress and state.

An operation (one query call plus its action, or one stream drain) is a
span with a query id; the function call, the action and every Spark job
started meanwhile are its children. Spans stay in memory until
``Tracer.dump``.
"""

from __future__ import annotations

import json
import re
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from stats import self_time

CACHE_FUNCS = ("materialize_and_release", "tracked_local_checkpoint", "supersede")
TABLE_FUNCS = {"load_table": "load_table_calls", "scan_parallel": "scan_parallel_calls"}

# SQL metric names Spark reports on MapInArrow / FlatMapGroupsInArrow
# (and the other Python-evaluating nodes).
ARROW_METRICS = {
    "time to run Python workers": "operators.arrow.python_run_s",
    "time to start Python workers": "operators.arrow.python_start_s",
    "data sent to Python workers": "operators.arrow.bytes_sent",
    "data returned from Python workers": "operators.arrow.bytes_returned",
}

# Plan nodes that run Python workers: MapInArrow, FlatMapGroupsInArrow,
# ArrowEvalPython, BatchEvalPython, MapInPandas, ...
PYTHON_NODE_HINTS = ("Arrow", "Python", "Pandas")

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_METRIC_VALUE = re.compile(r"^\s*([0-9][0-9.,]*)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric in seconds or bytes.

    Spark formats a multi-task metric as a header line plus
    ``"<total> (<min>, <med>, <max> ...)"`` and a single value as
    ``"<value> <unit>"``; both start the value line with the total.
    """
    line = text.strip().splitlines()[-1]
    m = _METRIC_VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _iter(seq):
    """Iterate a Scala collection through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(o):
    return o.get() if o.isDefined() else None


class Tracer:
    """Per-operation layer counters and spans for one Spark session.

    ``install`` before a traced pass and ``close`` after it, so untraced
    passes run the engine untouched."""

    def __init__(self, spark, engine_modules):
        self.spark = spark
        sc = spark.sparkContext
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.jvm = sc._jvm
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.cores = sc.defaultParallelism
        # JVM epoch ms -> this process's perf_counter seconds
        t_py, ms_jvm = time.perf_counter(), self.jvm.System.currentTimeMillis()
        self._jvm0 = ms_jvm / 1000.0 - t_py
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.cur: dict | None = None
        self._depth = 0
        self._stream_events: list = []
        self._restore: list = []
        self._modules = engine_modules
        self._listener = self._make_stream_listener()

    # ----- instrumentation ------------------------------------------------

    def _wrap_engine(self, modules) -> None:
        cache_mod = modules["cache"]
        tables_mod = modules["tables"]
        originals = {f: getattr(cache_mod, f) for f in CACHE_FUNCS}
        originals.update({f: getattr(tables_mod, f) for f in TABLE_FUNCS})
        wrapped = {f: self._cache_wrapper(originals[f]) for f in CACHE_FUNCS}
        wrapped.update({f: self._count_wrapper(originals[f], TABLE_FUNCS[f])
                        for f in TABLE_FUNCS})
        for name, mod in list(sys.modules.items()):
            if not name.startswith("workshop3_etl_spark"):
                continue
            for attr, orig in originals.items():
                if getattr(mod, attr, None) is orig:
                    self._restore.append((mod, attr, orig))
                    setattr(mod, attr, wrapped[attr])
        sinks = modules["pipeline"]._SINKS
        for key, fn in list(sinks.items()):
            self._restore.append((sinks, key, fn))
            sinks[key] = self._sink_wrapper(fn)

    def _cache_wrapper(self, fn):
        def wrapper(*args, **kwargs):
            # nested calls (supersede -> tracked_local_checkpoint) count once
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                if self._depth == 0 and self.cur is not None:
                    self.cur["functions.cache.checkpoint_calls"] += 1
                    self.cur["functions.cache.checkpoint_s"] += time.perf_counter() - t0
                    self._sample_storage()
        return wrapper

    def _count_wrapper(self, fn, counter):
        def wrapper(*args, **kwargs):
            if self.cur is not None:
                self.cur[f"sources.tables.{counter}"] += 1
            return fn(*args, **kwargs)
        return wrapper

    def _sink_wrapper(self, fn):
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                if self.cur is not None:
                    self.cur["streaming.upsert.upsert_s"] += time.perf_counter() - t0
        return wrapper

    def install(self) -> None:
        """Wrap the layer functions and listen to streaming progress."""
        self._wrap_engine(self._modules)
        self.spark.streams.addListener(self._listener)

    def _make_stream_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self._stream_events

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Progress()

    def close(self) -> None:
        """Undo ``install``: the engine runs untouched again."""
        for target, key, orig in reversed(self._restore):
            if isinstance(target, dict):
                target[key] = orig
            else:
                setattr(target, key, orig)
        self._restore.clear()
        self.spark.streams.removeListener(self._listener)

    # ----- per-operation bookkeeping --------------------------------------

    def _sample_storage(self) -> None:
        used = 0
        for pair in _iter(self.jsc.getExecutorMemoryStatus().values()):
            used += pair._1() - pair._2()
        key = "functions.cache.storage_mem_peak_bytes"
        self.cur[key] = max(self.cur[key], used)

    def plan_phases(self, df) -> None:
        """Add the returned frame's Catalyst phase times (analysis,
        optimization, planning) to the current operation."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        for kv in _iter(qe.tracker().phases()):
            self.cur["operators.catalyst_plan_s"] += kv._2().durationMs() / 1e3

    def _next_job_id(self) -> int:
        nxt = self.jsc.dagScheduler().nextJobId()
        return nxt if isinstance(nxt, int) else nxt.get()

    @contextmanager
    def op(self, qid: str, name: str):
        """Trace one operation; yields the span recorder."""
        cur = dict.fromkeys(ALL_COUNTERS, 0.0)
        cur["_first_job"] = self._next_job_id()
        cur["_first_exec"] = self.sql_store.executionsCount()
        self.cur = cur
        n_events = len(self._stream_events)
        self.sc.setJobGroup(qid, name)
        spans = []
        t0 = time.perf_counter()
        try:
            yield _Spans(spans, qid)
        finally:
            t1 = time.perf_counter()
            self.sc.setJobGroup(None, None)
            self.cur = None
            self._finish(cur, qid, name, t0, t1, spans, n_events)

    def _finish(self, cur, qid, name, t0, t1, spans, n_events) -> None:
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = self._jobs(cur.pop("_first_job"), self._next_job_id())
        self._arrow_metrics(cur, cur.pop("_first_exec"))
        self._stream_metrics(cur, self._stream_events[n_events:])
        cur["functions.cache.persisted_rdds_after"] = (
            self.sc._jsc.getPersistentRDDs().size())
        self.cur = cur
        self._sample_storage()
        self.cur = None

        fn = next((s for s in spans if s["name"] == "query_fn"), None)
        job_iv = [(j["start"], j["end"]) for j in jobs]
        if fn is not None:
            cur["operators.query_fn_s"] = fn["end"] - fn["start"]
            cur["operators.query_fn_self_s"] = self_time(fn["start"], fn["end"], job_iv)
            cur["operators.eager_jobs"] = sum(
                1 for j in jobs if fn["start"] <= j["start"] < fn["end"])
        for s in spans:
            if s["name"] == "action":
                cur["operators.action_s"] += s["end"] - s["start"]
        cur["spark.scheduler.jobs"] = len(jobs)
        for j in jobs:
            for k, v in j["stage_totals"].items():
                cur[k] += v
        wall = t1 - t0
        cur["wall_s"] = wall

        root = {"qid": qid, "name": "op", "op": name, "start": t0, "end": t1,
                "parent": None}
        for s in spans:
            s["parent"] = "op"
        for j in jobs:
            parent = next((s["name"] for s in spans
                           if s["start"] <= j["start"] < s["end"]), "op")
            spans.append({"qid": qid, "name": f"job{j['id']}", "start": j["start"],
                          "end": j["end"], "parent": parent,
                          "counters": j["stage_totals"]})
        for s in [root] + spans:
            children = [(c["start"], c["end"]) for c in spans
                        if c.get("parent") == s["name"] and c is not s]
            s["self_s"] = self_time(s["start"], s["end"], children)
        self.spans.extend([root] + spans)
        self.ops.append({"qid": qid, "op": name, **cur})

    def _jobs(self, first: int, end: int) -> list[dict]:
        jvm = self.jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        out = []
        for jid in range(first, end):
            try:
                job = self.store.job(jid)
            except Py4JJavaError:
                continue  # evicted from the status store
            start = _opt(job.submissionTime())
            stop = _opt(job.completionTime())
            if start is None or stop is None:
                continue
            totals = dict.fromkeys(STAGE_COUNTERS, 0.0)
            for sid in _iter(job.stageIds()):
                try:
                    attempts = self.store.stageData(
                        sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
                except Py4JJavaError:
                    continue  # skipped stage: never ran
                for st in _iter(attempts):
                    totals["spark.scheduler.stages"] += 1
                    totals["spark.scheduler.tasks"] += st.numCompleteTasks()
                    totals["spark.scheduler.executor_run_s"] += st.executorRunTime() / 1e3
                    totals["spark.scheduler.executor_cpu_s"] += st.executorCpuTime() / 1e9
                    totals["spark.exchange.input_bytes"] += st.inputBytes()
                    totals["spark.exchange.shuffle_read_bytes"] += st.shuffleReadBytes()
                    totals["spark.exchange.shuffle_write_bytes"] += st.shuffleWriteBytes()
                    totals["spark.exchange.spill_bytes"] += (
                        st.memoryBytesSpilled() + st.diskBytesSpilled())
            out.append({
                "id": jid,
                "start": start.getTime() / 1000.0 - self._jvm0,
                "end": stop.getTime() / 1000.0 - self._jvm0,
                "stage_totals": totals,
            })
        return out

    def _arrow_metrics(self, cur, first: int) -> None:
        # SQL executions are listed in id order; ids are global to the
        # JVM, so count positions rather than ids.
        total = self.sql_store.executionsCount()
        for execution in _iter(self.sql_store.executionsList(first, total - first)):
            eid = execution.executionId()
            metrics = None
            graph = self.sql_store.planGraph(eid)
            for node in _iter(graph.allNodes()):
                if not any(k in node.name() for k in PYTHON_NODE_HINTS):
                    continue
                if metrics is None:
                    metrics = self.sql_store.executionMetrics(eid)
                for m in _iter(node.metrics()):
                    key = ARROW_METRICS.get(m.name())
                    if key is None:
                        continue
                    text = _opt(metrics.get(m.accumulatorId()))
                    if text:
                        cur[key] += parse_sql_metric(text)

    @staticmethod
    def _stream_metrics(cur, events) -> None:
        state_rows: dict[str, float] = {}
        state_mem: dict[str, float] = {}
        for ev in events:
            cur["streaming.microbatches"] += 1
            cur["streaming.input_rows"] += ev.get("numInputRows", 0)
            dur = ev.get("durationMs", {})
            cur["streaming.add_batch_s"] += dur.get("addBatch", 0) / 1e3
            cur["streaming.commit_s"] += (
                dur.get("commitOffsets", 0) + dur.get("walCommit", 0)) / 1e3
            ops = ev.get("stateOperators", [])
            qid = ev.get("runId", "")
            state_rows[qid] = max(state_rows.get(qid, 0),
                                  sum(o.get("numRowsTotal", 0) for o in ops))
            state_mem[qid] = max(state_mem.get(qid, 0),
                                 sum(o.get("memoryUsedBytes", 0) for o in ops))
        cur["streaming.state_rows"] = sum(state_rows.values())
        cur["streaming.state_memory_bytes"] = sum(state_mem.values())

    # ----- reporting -------------------------------------------------------

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "ops": self.ops, "spans": self.spans}, fh)


class _Spans:
    """Child-span recorder handed to the code inside ``Tracer.op``."""

    def __init__(self, spans: list, qid: str):
        self._spans = spans
        self._qid = qid

    @contextmanager
    def span(self, name: str):
        s = {"qid": self._qid, "name": name, "start": time.perf_counter()}
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._spans.append(s)


STAGE_COUNTERS = (
    "spark.scheduler.stages",
    "spark.scheduler.tasks",
    "spark.scheduler.executor_run_s",
    "spark.scheduler.executor_cpu_s",
    "spark.exchange.input_bytes",
    "spark.exchange.shuffle_read_bytes",
    "spark.exchange.shuffle_write_bytes",
    "spark.exchange.spill_bytes",
)

ALL_COUNTERS = (
    "operators.query_fn_s",
    "operators.query_fn_self_s",
    "operators.eager_jobs",
    "operators.action_s",
    "operators.catalyst_plan_s",
    "functions.cache.checkpoint_calls",
    "functions.cache.checkpoint_s",
    "functions.cache.persisted_rdds_after",
    "functions.cache.storage_mem_peak_bytes",
    "sources.tables.load_table_calls",
    "sources.tables.scan_parallel_calls",
    *ARROW_METRICS.values(),
    "spark.scheduler.jobs",
    *STAGE_COUNTERS,
    "streaming.microbatches",
    "streaming.input_rows",
    "streaming.add_batch_s",
    "streaming.commit_s",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
    "streaming.upsert.upsert_s",
)

# Counters that describe a level rather than an amount: a pass reports
# their maximum over its operations, every other counter their sum.
PEAK_COUNTERS = (
    "functions.cache.persisted_rdds_after",
    "functions.cache.storage_mem_peak_bytes",
)


def pass_totals(ops: list[dict], wall: float, cores: int) -> dict:
    """Fold one pass's per-operation counters into pass-level metrics."""
    out = {}
    for k in ALL_COUNTERS:
        vals = [o[k] for o in ops]
        out[k] = max(vals) if k in PEAK_COUNTERS else sum(vals)
    out["spark.scheduler.cpu_busy_frac"] = (
        out["spark.scheduler.executor_cpu_s"] / (wall * cores) if wall else 0.0)
    out["operators.query_fn_share"] = out["operators.query_fn_s"] / wall if wall else 0.0
    return out
