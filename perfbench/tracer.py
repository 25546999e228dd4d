"""Outside-in tracer: reads what the engine did without editing it.

Every source here is metadata that Spark already keeps, so a trace read
runs zero Spark jobs:

* py4j round trips — a counter wrapped around the gateway client's
  ``send_command`` (paused while the tracer itself talks to the JVM);
* Catalyst phase times — the action's ``QueryPlanningTracker``;
* stage and task metrics — the status store's REST API, joined to the
  operation through a per-operation job group;
* Python-boundary metrics — the SQL metrics of the Python plan nodes,
  walked through the adaptive plan's query stages and cached relations.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import urllib.parse
import urllib.request

PYTHON_NODES = ("Python", "InPandas", "InArrow")


class Py4jCounter:
    """Counts py4j ``send_command`` calls made by the driver."""

    def __init__(self, sc):
        self._client = sc._gateway._gateway_client
        self._orig = self._client.send_command
        self.calls = 0
        self._paused = 0

        def counted(*args, **kwargs):
            if not self._paused:
                self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counted

    @contextlib.contextmanager
    def paused(self):
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    def close(self) -> None:
        self._client.send_command = self._orig


class Op:
    """One traced operation: wall times, py4j calls and a job group."""

    def __init__(self, tag: str):
        self.tag = tag
        self.build_s = 0.0
        self.exec_s = 0.0
        self.py4j_calls = 0
        self.qe = None  # QueryExecution of the action, when there is one

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.counter = Py4jCounter(self.sc)
        self._seq = 0
        ui = urllib.parse.urlsplit(self.sc.uiWebUrl)
        self._api = f"http://127.0.0.1:{ui.port}/api/v1/applications/{self.sc.applicationId}"

    def close(self) -> None:
        self.counter.close()

    # --- running --------------------------------------------------------
    def run(self, name: str, build, action):
        """``build() -> DataFrame``, then ``action(df) -> result``; each
        timed, py4j-counted and tagged with a fresh job group, which is
        cleared afterwards so that no later job carries the tag."""
        self._seq += 1
        op = Op(f"perfbench-{self._seq}-{name}")
        with self.counter.paused():
            self.sc.setJobGroup(op.tag, name)
        try:
            c0 = self.counter.calls
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            result = action(df)
            t2 = time.perf_counter()
        finally:
            with self.counter.paused():
                self.sc._jsc.clearJobGroup()
        op.build_s, op.exec_s = t1 - t0, t2 - t1
        op.py4j_calls = self.counter.calls - c0
        if df is not None and hasattr(df, "_jdf"):
            with self.counter.paused():
                op.qe = df._jdf.queryExecution()
        return result, op

    # --- reading ---------------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as r:
            return json.load(r)

    def read(self, op: Op) -> dict:
        """Every per-layer figure of one finished operation."""
        with self.counter.paused():
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            out = {"build.s": op.build_s, "exec.s": op.exec_s, "build.py4j_calls": op.py4j_calls}
            out.update(self._stages(op.tag))
            out.update(self._phases(op.qe))
            out.update(self._python_nodes(op.qe))
        return out

    def _stages(self, tag: str) -> dict:
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == tag]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        m = dict.fromkeys(
            ("exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
             "exec.scheduler_delay_ms", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
             "exec.spill_bytes", "exec.failed_tasks", "sources.input_bytes"), 0)
        m["exec.jobs"] = len(jobs)
        longest, longest_tasks = -1, []
        for sid in stage_ids:
            for st in self._get(f"/stages/{sid}"):
                if st["status"] not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its output was reused
                m["exec.stages"] += 1
                m["exec.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                m["exec.failed_tasks"] += st["numFailedTasks"]
                m["exec.run_ms"] += st["executorRunTime"]
                m["exec.cpu_ms"] += st["executorCpuTime"] / 1e6
                m["exec.gc_ms"] += st["jvmGcTime"]
                m["exec.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                m["exec.shuffle_read_bytes"] += st["shuffleReadBytes"]
                m["exec.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                m["sources.input_bytes"] += st["inputBytes"]
                tasks = self._get(f"/stages/{sid}/{st['attemptId']}/taskList?length=100000")
                m["exec.scheduler_delay_ms"] += sum(t.get("schedulerDelay", 0) for t in tasks)
                if st["executorRunTime"] > longest:
                    longest = st["executorRunTime"]
                    longest_tasks = [t["duration"] for t in tasks if "duration" in t]
        med = statistics.median(longest_tasks) if longest_tasks else 0
        m["exec.task_skew"] = max(longest_tasks) / med if med else 0.0
        return m

    @staticmethod
    def _phases(qe) -> dict:
        out = {"plan.analysis_ms": 0, "plan.optimization_ms": 0, "plan.planning_ms": 0}
        if qe is None:
            return out
        phases = qe.tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            if p.isDefined():
                out[f"plan.{name}_ms"] = p.get().durationMs()
        return out

    @staticmethod
    def _python_nodes(qe) -> dict:
        out = {"python.operators": 0, "python.bytes_sent": 0, "python.bytes_returned": 0,
               "python.rows": 0, "python.udf_ms": 0, "spatial_join.refine_rows": 0}
        if qe is None:
            return out
        seen: set[int] = set()
        stack = [qe.executedPlan()]
        while stack:
            node = stack.pop()
            if node.id() in seen:
                continue
            seen.add(node.id())
            cls = node.getClass().getSimpleName()
            if any(k in cls for k in PYTHON_NODES):
                it = node.metrics().iterator()
                m = {}
                while it.hasNext():
                    kv = it.next()
                    m[kv._1()] = kv._2().value()
                out["python.operators"] += 1
                out["python.bytes_sent"] += m.get("pythonDataSent", 0)
                out["python.bytes_returned"] += m.get("pythonDataReceived", 0)
                out["python.rows"] += m.get("pythonNumRowsReceived", 0)
                out["python.udf_ms"] += m.get("pythonTotalTime", 0)
                if "EvalPython" in cls:  # row-wise UDFs: one result per input row
                    out["spatial_join.refine_rows"] += m.get("pythonNumRowsReceived", 0)
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
            elif cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
            elif cls == "InMemoryTableScanExec":
                stack.append(node.relation().cachedPlan())
            elif cls == "ReusedExchangeExec":
                stack.append(node.child())
            else:
                kids = node.children()
                stack.extend(kids.apply(i) for i in range(kids.size()))
        return out

    def job_count(self) -> int:
        with self.counter.paused():
            return len(self._get("/jobs"))


def median_of(reads: list[dict]) -> dict:
    """Per-key median over several operations' reads."""
    keys = {k for r in reads for k in r}
    return {k: statistics.median(r.get(k, 0) for r in reads) for k in sorted(keys)}


def summed(reads: list[dict]) -> dict:
    """Per-key sum over the operations of one pass (task skew: max)."""
    keys = {k for r in reads for k in r}
    return {k: (max if k == "exec.task_skew" else sum)(r.get(k, 0) for r in reads) for k in sorted(keys)}
