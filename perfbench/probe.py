"""Measurement plumbing: call spans, Spark status-store counters, streaming
progress, process-tree peak RSS and run-validity stamps.

Everything here is read from outside the engine: the benchmark wraps each
public call in :meth:`Tracer.call`, and a traced run reads Spark's status
stores after the call returns, outside the timed region.
"""

from __future__ import annotations

import ctypes
import json
import os
import re
import signal
import threading
import time
from contextlib import contextmanager

# counters summed per call from the status stores (traced runs only)
STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ms": "executorCpuTime",      # ns in the store
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
}
SQL_METRICS = {  # plan-node metric label -> counter
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
    "number of files read": "files_read",
    "size of files read": "scan_bytes",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}
_NUM = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)")


def sql_metric_value(text: str) -> float:
    """Parse a formatted SQL metric ('1,000', '12.0 KiB', or the
    'total (min, med, max ...)' two-line form) into a plain number."""
    line = text.strip().splitlines()[-1] if text.startswith("total") else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def spin_probe(n: int = 3_000_000) -> float:
    """Wall time of a fixed single-core Python loop: a clock-health stamp.
    A loaded host stretches it with the core's effective share."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i & 7
    return time.perf_counter() - t0


def validity_stamp() -> dict:
    return {"spin_s": spin_probe(), "loadavg": list(os.getloadavg())}


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """Children of every process and the RSS bytes of each, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parts = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid, ppid = int(d), int(parts[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = int(parts[21]) * page
    return children, rss


def _descendants(root: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root: int) -> int:
    """RSS of ``root`` and all its descendants (driver Python, the JVM it
    launched and the JVM's Python workers)."""
    children, rss = _proc_table()
    return sum(rss.get(p, 0) for p in [root] + _descendants(root, children))


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so a Python worker whose JVM has already
    exited is still found, and waited for, by :func:`stop_descendants`."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)


def stop_descendants() -> None:
    """Stop every process this one started, directly or not, and wait until
    each has ended: first let them exit on their own for 15 s (the JVM exits
    once its stdin is closed), then SIGTERM them, and SIGKILL after 30 s."""
    me = os.getpid()
    t0 = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = _descendants(me, _proc_table()[0])
        if not left:
            return
        waited = time.monotonic() - t0
        if waited > 15:
            sig = signal.SIGKILL if waited > 30 else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class RssSampler:
    """Background sampler of the process tree's summed RSS; keeps the peak."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))


class Tracer:
    """Spans around public calls; with ``traced`` also the status-store
    counters of the jobs each call ran.

    Calls run one at a time from the benchmark's single client thread, so
    the jobs and SQL executions a call ran are those whose ids appear
    between its start and its end. Reading the stores happens after the
    span has closed; ``collect_s`` sums that time so callers can leave it
    out of their timings.
    """

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self.calls: dict[str, dict] = {}
        self.collect_s = 0.0
        if traced:
            sc = spark.sparkContext
            self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
            self._store = sc._jsc.sc().statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._empty = sc._gateway.new_array(sc._jvm.double, 0)
            scala = sc._jvm.com.fasterxml.jackson.module.scala
            self._mapper = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self._mapper.registerModule(
                getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))

    # ---------------------------------------------------------- spans ---
    @contextmanager
    def call(self, name: str, rows_in: int | None = None):
        """Time one public call. Yields a dict the caller may fill with
        ``rows_out``; on exit it holds the call's ``wall_s``."""
        info: dict = {}
        if self.traced:
            c0 = time.perf_counter()
            # jobs run outside any span (lazy reads between calls) are
            # nobody's: skip past them
            self._seen_job, self._seen_exec = self._max_job(), self._max_exec()
            self.spark.sparkContext.setJobGroup(name, name)
            self.collect_s += time.perf_counter() - c0
        t0 = time.perf_counter()
        try:
            yield info
        finally:
            t1 = time.perf_counter()
            info["wall_s"] = t1 - t0
            self.spans.append({"name": name, "start": t0, "end": t1})
            rec = self.calls.setdefault(name, {"calls": 0, "wall_ms": 0.0})
            rec["calls"] += 1
            rec["wall_ms"] += (t1 - t0) * 1000
            if rows_in is not None:
                rec["rows_in"] = rec.get("rows_in", 0) + rows_in
            if "rows_out" in info:
                rec["rows_out"] = rec.get("rows_out", 0) + info["rows_out"]
            if self.traced:
                self._collect(rec, t0, t1)
                self.collect_s += time.perf_counter() - t1

    # ------------------------------------------------- status stores ---
    def _json(self, obj):
        """One py4j round trip per store query: the JVM serializes it."""
        return json.loads(self._mapper.writeValueAsString(obj))

    def _max_job(self) -> int:
        return max((j["jobId"] for j in self._json(self._store.jobsList(None))),
                   default=-1)

    def _max_exec(self) -> int:
        ex = self._conv.asJava(self._sql.executionsList())
        return max((e.executionId() for e in ex), default=-1)

    def _collect(self, rec: dict, t0: float, t1: float) -> None:
        def add(k, v):
            rec[k] = rec.get(k, 0) + v

        jobs = [j for j in self._json(self._store.jobsList(None))
                if j["jobId"] > self._seen_job]
        add("jobs", len(jobs))
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        add("stages", len(stage_ids))
        if stage_ids:
            for st in self._json(self._store.stageList(
                    None, False, False, self._empty, None)):
                if st["stageId"] in stage_ids:
                    for key, field in STAGE_FIELDS.items():
                        v = st[field] or 0
                        add(key, v / 1e6 if key == "executor_cpu_ms" else v)
        # driver gap: wall time not covered by any job of the call
        covered, end = 0, None
        for s, c in sorted((j["submissionTime"], j["completionTime"])
                           for j in jobs if j["completionTime"]):
            if end is None or s > end:
                covered += c - s
                end = c
            elif c > end:
                covered += c - end
                end = c
        add("driver_gap_ms", max(0.0, (t1 - t0) * 1000 - covered))
        for eid in range(self._seen_exec + 1, self._max_exec() + 1):
            values = self._json(self._sql.executionMetrics(eid))
            for node in self._json(self._sql.planGraph(eid).allNodes()):
                for m in node["metrics"]:
                    key = SQL_METRICS.get(m["name"])
                    if key and str(m["accumulatorId"]) in values:
                        add(key, sql_metric_value(values[str(m["accumulatorId"])]))


class StreamProgress:
    """StreamingQueryListener keeping every trigger's progress, from
    construction until :meth:`stop`."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        rows = self.rows = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators
                rows.append({
                    "query": p.name,
                    "batch": p.batchId,
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    "input_rows": p.numInputRows,
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.listener = _L()
        spark.streams.addListener(self.listener)

    def stop(self) -> None:
        self.spark.streams.removeListener(self.listener)
