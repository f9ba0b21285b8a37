"""Spark session lifetime, status-store counters and the span tracer.

Counters come from Spark's own status stores, read from outside through
py4j: ``SparkContext.statusStore()`` for jobs, stages and task-time
quantiles, and the SQL status store for Python worker time. Both work
with ``spark.ui.enabled=false`` and launch no Spark jobs, so they can be
read after timed runs without disturbing them. Objects are serialised to
JSON on the JVM side with Spark's own Jackson, one py4j call per list.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession

from generative_ner_spark.plans.session import build_session

_PYTHON_TIME = "time to run Python workers"
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def start_session(work: str, nproc: int) -> SparkSession:
    """The repo's tuned session at ``local[nproc]``, with every scratch
    directory inside ``work`` and status-store retention high enough that
    no stage of a run is evicted before it is read."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = build_session(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark: SparkSession, nproc: int) -> None:
    """Start one Python worker per core and import the pipeline there."""
    def imp(batches):
        import generative_ner_spark.operators.detect  # noqa: F401
        yield from batches

    spark.range(nproc, numPartitions=nproc).mapInPandas(
        imp, "id long").write.format("noop").mode("overwrite").save()


def stop_session(spark: SparkSession, timeout: float = 60.0) -> None:
    """Stop Spark, then the gateway JVM and its Python workers, and wait
    until every one of those processes has exited."""
    gateway = SparkContext._gateway
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    spark.stop()
    procs = [jvm_pid] + descendants(jvm_pid)
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in procs):
        if time.time() > deadline:
            raise RuntimeError(f"Spark processes still alive: {procs}")
        time.sleep(0.05)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss(spark: SparkSession) -> dict:
    """Peak resident set (VmHWM) of the driver JVM plus its Python workers
    (``total``), with the JVM's share and the number of Python processes."""
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    python = descendants(jvm_pid)
    jvm = _vm_hwm_kb(jvm_pid) / 1024
    return {"total": jvm + sum(_vm_hwm_kb(p) for p in python) / 1024,
            "jvm": jvm, "python_processes": len(python)}


class StatusStore:
    """Read-only view of one SparkContext's job, stage and SQL stores."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gw = sc._gateway
        self._jvm = jvm
        self._core = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._sc = sc._jsc.sc()
        scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala,
                                "DefaultScalaModule$"), "MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far: the stores are filled asynchronously, and the last job of a
        run can still be queued when the run returns."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self, since_ms: float, until_ms: float) -> list[dict]:
        """Jobs submitted in [since_ms, until_ms), epoch milliseconds."""
        self._drain()
        jobs = self._json(self._core.jobsList(self._jvm.java.util.ArrayList()))
        return [j for j in jobs if j.get("submissionTime") is not None
                and since_ms <= j["submissionTime"] < until_ms]

    def stages(self, jobs: list[dict]) -> list[dict]:
        """Stage attempts that ran for ``jobs`` (skipped stages excluded)."""
        want = {s for j in jobs for s in j["stageIds"]}
        empty = self._gw.new_array(self._jvm.double, 0)
        stages = self._json(self._core.stageList(
            self._jvm.java.util.ArrayList(), False, False, empty,
            self._jvm.java.util.ArrayList()))
        return [s for s in stages if s["stageId"] in want
                and s["status"] != "SKIPPED"]

    def task_skew(self, stages: list[dict]) -> float:
        """DS2-style skew of the busiest multi-task stage: max over median
        task run time (1.0 when no stage has two or more tasks)."""
        multi = [s for s in stages if s["numTasks"] >= 2]
        if not multi:
            return 1.0
        s = max(multi, key=lambda s: s["executorRunTime"])
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._core.taskSummary(s["stageId"], s["attemptId"], q)
        if not summary.isDefined():
            return 1.0
        med, top = self._json(summary.get())["executorRunTime"]
        return top / med if med > 0 else 1.0

    def python_s(self, since_ms: float, until_ms: float) -> float:
        """Python worker run time summed over tasks of SQL executions
        submitted in [since_ms, until_ms)."""
        self._drain()
        total = 0.0
        for e in self._json(self._sql.executionsList()):
            if not since_ms <= e["submissionTime"] < until_ms:
                continue
            ids = {m["accumulatorId"] for m in e["metrics"]
                   if m["name"] == _PYTHON_TIME}
            if not ids:
                continue
            values = self._json(self._sql.executionMetrics(e["executionId"]))
            for acc in ids:
                total += _parse_total_s(values.get(str(acc), ""))
        return total

    def queries(self, since: float, until: float) -> list[dict]:
        """SQL executions (one per DataFrame action) submitted in
        [since, until), epoch seconds, in submission order."""
        self._drain()
        return sorted(
            (e for e in self._json(self._sql.executionsList())
             if since * 1000 <= e["submissionTime"] < until * 1000
             and e.get("rootExecutionId", e["executionId"]) == e["executionId"]),
            key=lambda e: e["executionId"])

    def storage_used_bytes(self) -> int:
        """Block-manager storage memory in use (cached blocks)."""
        status = self._json(self._sc.getExecutorMemoryStatus())
        return sum(total - free for total, free in status.values())


def _parse_total_s(text: str) -> float:
    """Total of a timing SQL metric, e.g. 'total (min, med, max ...)\\n
    6.8 s (1.7 s, ...)' -> 6.8."""
    lines = text.strip().split("\n")
    m = re.match(r"([\d.,]+)\s*(ms|s|m|h)\b", lines[-1].strip())
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def spark_counters(store: StatusStore, start: float, end: float) -> dict:
    """Counters for every job submitted in the wall interval [start, end)
    (epoch seconds). ``driver_s`` is the wall time no job was running:
    planning, code generation and driver-side Python."""
    jobs = store.jobs(start * 1000, end * 1000)
    stages = store.stages(jobs)
    busy, cursor = 0.0, start * 1000
    for a, b in sorted((j["submissionTime"], j.get("completionTime") or end * 1000)
                       for j in jobs):
        a, b = max(a, cursor), min(b, end * 1000)
        if b > a:
            busy += b - a
            cursor = b
    return {
        "jobs": len(jobs),
        "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "task_s": sum(s["executorRunTime"] for s in stages) / 1000,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1000,
        "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                           for s in stages),
        "failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "task_skew": store.task_skew(stages),
        "driver_s": max(0.0, end - start - busy / 1000),
    }


class StoragePoller:
    """Samples block-manager storage memory in a background thread, so a
    span can report the peak its operator cached even when the operator
    releases its caches before returning."""

    def __init__(self, store: StatusStore, interval: float = 0.05):
        self._store = store
        self._interval = interval
        self._samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._samples.append((time.time(), self._store.storage_used_bytes()))
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def peak_mb(self, start: float, end: float) -> float:
        """Peak storage memory in [start, end] above the level at start."""
        inside = [b for t, b in self._samples if start <= t <= end]
        before = [b for t, b in self._samples if t <= start]
        base = before[-1] if before else (inside[0] if inside else 0)
        return max([0] + [b - base for b in inside]) / 2**20


class Tracer:
    """In-memory spans (name, start, end, parent, run id); written out once
    by ``dump`` when the benchmark ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = 0
        self.forced: list[tuple[int, float, float]] = []  # run, start, end

    def force(self, df):
        """Persist ``df`` and count it, so that the open span holds the
        computation of its layer. Returns the persisted frame and its row
        count; the count is a query the untraced run does not issue."""
        start = time.time()
        df = df.persist()
        n = df.count()
        self.forced.append((self.run_id, start, time.time()))
        return df, n

    def forced_in(self, run_id: int) -> list[tuple[float, float]]:
        return [(a, b) for r, a, b in self.forced if r == run_id]

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "id": len(self.spans)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def run_spans(self, run_id: int) -> list[dict]:
        return [s for s in self.spans if s["run"] == run_id]

    @staticmethod
    def self_time(span: dict, spans: list[dict]) -> float:
        """Span duration minus the time its direct children cover."""
        covered, cursor = 0.0, span["start"]
        for c in sorted((c for c in spans if c["parent"] == span["id"]),
                        key=lambda c: c["start"]):
            a, b = max(c["start"], cursor), min(c["end"], span["end"])
            if b > a:
                covered += b - a
                cursor = b
        return span["end"] - span["start"] - covered

    @staticmethod
    def innermost(spans: list[dict], t: float) -> dict | None:
        """The deepest span open at time ``t`` (epoch seconds)."""
        hits = [s for s in spans if s["start"] <= t < s["end"]]
        return max(hits, key=lambda s: s["start"]) if hits else None

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                rec = {**s, "self_s": self.self_time(s, self.run_spans(s["run"]))}
                f.write(json.dumps(rec) + "\n")
