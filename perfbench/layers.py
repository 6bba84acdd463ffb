"""Traced-run instrumentation, read from outside the engine.

Everything here observes the program through Spark's own stores and
the engine's public module state, between operations: nothing in
``hbase_tools_spark/`` is instrumented.

* Spark status store (``sc._jsc.sc().statusStore()``): every job whose
  id was allocated during an operation (job ids are sequential; stream
  drains run their micro-batches under their own job group, so the
  range is used rather than a job group), with its stages' metrics.
* SQL status store: the Python exec nodes' metrics (``time to run
  Python workers`` etc.) of every SQL execution started during the
  operation.
* A ``StreamingQueryListener`` that sees every micro-batch of every
  drain.
* ``/proc/<jvm pid>/io`` read/write character counts.
* ``functions.memo`` lookups and entries, and the stage persists
  ``functions.cache`` tracked during the operation.
"""

from __future__ import annotations

import re
import threading
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

#: Per-layer counter names, in report order (module metrics follow).
LAYER_METRICS: dict[str, str] = {
    "session.get_spark_s": "s",
    "catalog.load_model_s": "s",
    "registry.warmup_s": "s",
    "registry.build_s": "s",
    "collect.to_pandas_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "driver.gap_s": "s",
    "spark.task_failures": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "python.total_s": "s",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.bytes_sent": "bytes",
    "python.rows_received": "count",
    "memo.lookups": "count",
    "memo.builds": "count",
    "cache.stage_persists": "count",
    "streaming.drains": "count",
    "streaming.batches": "count",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "io.write_bytes": "bytes",
    "io.read_bytes": "bytes",
}

#: SQL metric name of a Python exec node -> layer counter (a node is a
#: Python node when it carries ``time to run Python workers``).
PYTHON_NODE_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "number of output rows": "python.rows_received",
}

_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str, metric_type: str) -> float:
    """Total of a formatted SQL metric value: seconds for timings, bytes
    for sizes, a plain count for sums.  Timings and sizes read
    ``total (min, med, max ...)\n<total> (...)``."""
    total = text.split("\n")[-1].split(" (")[0].replace(",", "").split()
    if metric_type == "sum":
        return float(total[0])
    return float(total[0]) * _UNITS[total[1]]


def read_proc_io(pid: int) -> tuple[int, int]:
    """(rchar, wchar) of a process."""
    fields = {}
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            k, _, v = line.partition(":")
            fields[k] = int(v)
    return fields["rchar"], fields["wchar"]


def read_hwm_kb(pid: int | str) -> int:
    """Peak resident set size (VmHWM) of a process, in kB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


class StreamCounters(StreamingQueryListener):
    """Sums every drain's micro-batch progress.  Called on the py4j
    callback thread, hence the lock."""

    def __init__(self):
        self.lock = threading.Lock()
        self.totals: dict[str, float] = defaultdict(float)
        self._last_state: dict[str, tuple[int, int]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        ops = p.stateOperators
        with self.lock:
            t = self.totals
            t["streaming.batches"] += 1
            t["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
            t["streaming.add_batch_ms"] += d.get("addBatch", 0)
            t["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            t["streaming.state_commit_ms"] += sum(o.commitTimeMs for o in ops)
            self._last_state[str(p.runId)] = (
                sum(o.numRowsTotal for o in ops),
                sum(o.memoryUsedBytes for o in ops),
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            rows, mem = self._last_state.pop(str(event.runId), (0, 0))
            self.totals["streaming.drains"] += 1
            self.totals["streaming.state_rows"] += rows
            self.totals["streaming.state_mem_bytes"] += mem

    def snapshot(self) -> dict[str, float]:
        with self.lock:
            return dict(self.totals)


def _metric_values(scala_map) -> dict[int, str]:
    """Accumulator id -> formatted value of a Scala ``Map[Long, String]``
    in one gateway call (py4j would pass a small Python int as a Java
    Integer, which never equals a Long key)."""
    out = {}
    for item in scala_map.toList().mkString("\x01").split("\x01"):
        if item:
            key, _, text = item[1:-1].partition(",")
            out[int(key)] = text
    return out


def _interval_union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Spans and per-layer counters of one traced run."""

    def __init__(self, spark, modules: list[str]):
        from hbase_tools_spark.functions import cache, memo

        self._memo, self._cache = memo, cache
        jsc = spark.sparkContext._jsc.sc()
        self.store = jsc.statusStore()
        self.dag = jsc.dagScheduler()
        self.bus = jsc.listenerBus()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.streams = StreamCounters()
        spark.streams.addListener(self.streams)
        self.modules = modules
        self.metrics: dict[str, float] = defaultdict(float)
        self.spans: list[dict] = []
        self.seen_stages: set[int] = set()
        self.bus.waitUntilEmpty()
        self.last_exec_id = self._max_execution_id()

    # -- spans -----------------------------------------------------------
    def span(self, name, start, end, parent=None, op_id=None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "span_id": sid, "parent_id": parent, "op_id": op_id, "name": name,
            "start_s": start, "end_s": end, "attrs": attrs,
        })
        return sid

    def finish_spans(self) -> list[dict]:
        """Fill ``dur_s`` and ``self_s`` (duration minus the part of the
        span its children cover)."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent_id"] is not None:
                children[s["parent_id"]].append(s)
        for s in self.spans:
            a, b = s["start_s"], s["end_s"]
            covered = _interval_union([
                (max(a, c["start_s"]), min(b, c["end_s"]))
                for c in children[s["span_id"]]
                if c["end_s"] > a and c["start_s"] < b
            ])
            s["dur_s"] = b - a
            s["self_s"] = max(0.0, b - a - covered)
        return self.spans

    # -- per operation ---------------------------------------------------
    def begin(self) -> dict:
        return {
            "job": self.dag.nextJobId(),
            "io": read_proc_io(self.jvm_pid),
            "touches": self._memo.touches(),
            "memo_keys": set(self._memo._CACHE),
            # the objects themselves, not their ids: a released one could
            # hand its id to a new persist
            "tracked": list(self._cache._TRACKED),
        }

    def end(self, snap: dict, op: dict) -> None:
        """Attribute everything since ``begin`` to ``op`` (a dict with
        op_id, query, module, cycle, start_s, build_s, collect_s,
        wall_s, ok) and record its spans."""
        next_job = self.dag.nextJobId()
        self.bus.waitUntilEmpty()
        m = self.metrics
        rchar, wchar = read_proc_io(self.jvm_pid)
        m["io.read_bytes"] += rchar - snap["io"][0]
        m["io.write_bytes"] += wchar - snap["io"][1]
        lookups = self._memo.touches() - snap["touches"]
        builds = len(set(self._memo._CACHE) - snap["memo_keys"])
        m["memo.lookups"] += lookups
        m["memo.builds"] += builds
        m["cache.stage_persists"] += sum(
            not any(df is old for old in snap["tracked"]) for df in self._cache._TRACKED
        )
        m["registry.build_s"] += op["build_s"]
        m["collect.to_pandas_s"] += op["collect_s"]
        module = op["module"] if op["module"] in self.modules else "other"
        m[f"{module}.busy_s"] += op["wall_s"]
        m[f"{module}.ops"] += 1

        start = op["start_s"]
        end = start + op["wall_s"]
        build_end = start + op["build_s"]
        op_span = self.span(
            "op", start, end, op_id=op["op_id"], query=op["query"],
            module=op["module"], cycle=op["cycle"], ok=op["ok"],
            memo_lookups=lookups, memo_builds=builds,
        )
        phases = [
            (self.span("registry.build", start, build_end, op_span, op["op_id"]),
             start, build_end),
            (self.span("collect.to_pandas", build_end, end, op_span, op["op_id"]),
             build_end, end),
        ]
        intervals = []
        for job_id in range(snap["job"], next_job):
            try:
                job = self.store.job(job_id)
            except Py4JJavaError:  # evicted from the store: nothing to read
                continue
            j0 = (job.submissionTime().get().getTime() / 1000.0
                  if job.submissionTime().isDefined() else start)
            j1 = (job.completionTime().get().getTime() / 1000.0
                  if job.completionTime().isDefined() else end)
            intervals.append((j0, j1))
            parent = next((sid for sid, a, b in phases if a <= j0 < b), op_span)
            job_span = self.span(
                "spark.job", j0, j1, parent, op["op_id"], job_id=job_id,
                tasks=job.numTasks(), failed_tasks=job.numFailedTasks(),
            )
            m["spark.jobs"] += 1
            m["spark.task_failures"] += job.numFailedTasks()
            for sid in self._seq_ints(job.stageIds()):
                self._stage(sid, job_span, op["op_id"])
        busy = _interval_union(intervals)
        m["spark.job_busy_s"] += busy
        m["driver.gap_s"] += max(0.0, op["wall_s"] - busy)
        self._python_metrics()

    def _stage(self, stage_id: int, parent: int, op_id: int) -> None:
        """Count a stage once, under the first job that lists it; a
        later job lists a reused stage too."""
        if stage_id in self.seen_stages:
            return
        self.seen_stages.add(stage_id)
        sd = self.store.lastStageAttempt(stage_id)
        if sd.status().toString() == "SKIPPED":
            return
        m = self.metrics
        m["spark.stages"] += 1
        m["spark.tasks"] += sd.numTasks()
        m["spark.executor_run_s"] += sd.executorRunTime() / 1e3
        m["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
        m["spark.jvm_gc_s"] += sd.jvmGcTime() / 1e3
        m["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
        m["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
        m["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        m["spark.peak_exec_mem_bytes"] += sd.peakExecutionMemory()
        if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
            self.span(
                "spark.stage",
                sd.submissionTime().get().getTime() / 1000.0,
                sd.completionTime().get().getTime() / 1000.0,
                parent, op_id, stage_id=stage_id, tasks=sd.numTasks(),
                run_s=sd.executorRunTime() / 1e3,
            )

    @staticmethod
    def _seq_ints(seq) -> list[int]:
        text = seq.mkString(",")
        return [int(x) for x in text.split(",")] if text else []

    def _max_execution_id(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        return self.sql_store.executionsList(n - 1, 1).apply(0).executionId()

    def _new_executions(self) -> list:
        """SQL executions started since the last call, oldest first."""
        n = self.sql_store.executionsCount()
        k = 64
        while True:
            seq = self.sql_store.executionsList(max(0, n - k), k)
            execs = [seq.apply(i) for i in range(seq.size())]
            if not execs or execs[0].executionId() <= self.last_exec_id or k >= n:
                break
            k *= 2
        new = [e for e in execs if e.executionId() > self.last_exec_id]
        if new:
            self.last_exec_id = new[-1].executionId()
        return new

    def _python_metrics(self) -> None:
        for ex in self._new_executions():
            if "time to run Python workers" not in ex.metrics().mkString("\n"):
                continue
            eid = ex.executionId()
            values = _metric_values(self.sql_store.executionMetrics(eid))
            seen = set()
            nodes = self.sql_store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                metrics = _PLAN_METRIC.findall(nodes.apply(i).metrics().mkString("\n"))
                if not any(name == "time to run Python workers" for name, _, _ in metrics):
                    continue
                for name, acc, kind in metrics:
                    key = PYTHON_NODE_METRICS.get(name)
                    if key is None or acc in seen:
                        continue
                    seen.add(acc)
                    if int(acc) in values:
                        self.metrics[key] += parse_metric(values[int(acc)], kind)

    # -- end of run ------------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        self.bus.waitUntilEmpty()
        out = {k: float(self.metrics.get(k, 0.0)) for k in LAYER_METRICS}
        out.update({k: float(v) for k, v in self.streams.snapshot().items()})
        for module in self.modules + ["other"]:
            out[f"{module}.busy_s"] = float(self.metrics.get(f"{module}.busy_s", 0.0))
            out[f"{module}.ops"] = float(self.metrics.get(f"{module}.ops", 0.0))
        return out
