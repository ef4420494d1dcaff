"""Measurement plumbing shared by every workload: the Spark session
factory, the live-memory reading, span tracing, Spark SQL metric readers
and the machine record. Nothing here knows about a particular workload.
"""

from __future__ import annotations

import json
import os
import platform
import re
import time
import uuid

PAGE = os.sysconf("SC_PAGE_SIZE")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb() -> int:
    """A quarter of the machine, capped at 4 GB: the whole run (JVM heap,
    off-heap, Python workers, DuckDB) then stays far inside memory."""
    return max(1, min(4, int(mem_total_gb() // 4)))


def start_spark(work_dir: str):
    """A ``local[nproc]`` session sized from this machine, passed to the
    library's own ``get_spark`` through its arguments. Scratch files
    (shuffle, spill, JVM temp) stay under ``work_dir``."""
    from validify_spark import get_spark

    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    return get_spark(
        "perfbench", cpus=cpus(),
        driver_memory=f"{driver_memory_gb()}g",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # and no hsperfdata files under the system temp directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # keep every micro-batch's progress of a run, not the last 100
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        })


def machine(spark) -> dict:
    jvm = spark._jvm
    return {
        "nproc": cpus(),
        "mem_total_gb": round(mem_total_gb(), 1),
        "driver_memory_gb": driver_memory_gb(),
        "cpu": platform.processor() or platform.machine(),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
    }


# -- memory -----------------------------------------------------------------

def _children() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int, skip: int) -> int:
    """Resident bytes of ``root`` and every descendant except the
    process ``skip`` itself (its descendants still count)."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        if pid == skip:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass  # exited while walking
    return total


def full_gc(spark) -> None:
    spark._jvm.java.lang.System.gc()


def live_bytes(spark) -> int:
    """Memory the run holds after a job: JVM heap and non-heap in use
    after a full GC, plus the resident memory of every Python process
    (this driver and Spark's Python workers). Unlike peak RSS it does
    not depend on when the collector last ran, so work moved into
    caches, state stores or retained plans shows."""
    jvm = spark._jvm
    full_gc(spark)
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = (mx.getHeapMemoryUsage().getUsed()
            + mx.getNonHeapMemoryUsage().getUsed())
    return used + tree_rss_bytes(os.getpid(),
                                 jvm.java.lang.ProcessHandle.current().pid())


# -- Spark SQL metrics --------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0}
_NUM = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_NODE = re.compile(r'label="(?:<br>)?<b>([^<]*)</b><br><br>(.*?)" '
                   r'tooltip="([^"]*)"')
_TOTAL = " total (min, med, max (stageId: taskId))"


def parse_metric(text: str) -> float:
    """A formatted Spark SQL metric value → bytes, seconds or a count."""
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def parse_plan_dot(dot: str) -> list:
    """``(node name, description, {metric: value})`` per node of the DOT
    rendering of an executed plan with its metric values."""
    out = []
    for name, body, desc in _NODE.findall(dot):
        parts = body.split("<br>") if body else []
        ms, i = {}, 0
        while i < len(parts):
            part = parts[i]
            if part.endswith(_TOTAL) and i + 1 < len(parts):
                ms[part[:-len(_TOTAL)]] = parse_metric(parts[i + 1])
                i += 2
                continue
            if ": " in part:
                key, value = part.split(": ", 1)
                ms[key] = parse_metric(value)
            i += 1
        out.append((name, desc, ms))
    return out


class SqlMetrics:
    """Reads Spark's own per-operator SQL metrics from the session's
    status store — every query the library runs, internal writes and
    streaming micro-batches included, with no hook inside the library."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def high_water(self) -> int:
        ex = self._store.executionsList()
        n = ex.size()
        return ex.apply(n - 1).executionId() if n else -1

    def nodes(self, ids) -> list:
        """Plan nodes of the executions ``ids``, one status-store round
        trip per execution."""
        out = []
        for eid in ids:
            if self._store.execution(eid).isEmpty():
                continue  # evicted from the store, or never an execution
            dot = self._store.planGraph(eid).makeDotFile(
                self._store.executionMetrics(eid))
            out.extend(parse_plan_dot(dot))
        return out


def gc_seconds(spark) -> float:
    beans = (spark._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(b.getCollectionTime() for b in beans) / 1000.0


# -- tracing ----------------------------------------------------------------

class Tracer:
    """Spans around calls into the library's layers, kept in memory and
    written when the run ends. With tracing on, each span also collects
    the plan nodes (with Spark's SQL metric values) of the executions
    that ran inside it and not inside a child span, so counts are read
    where the work happened. Spans time themselves either way."""

    def __init__(self, spark):
        self.enabled = False
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list = []
        self._stack: list = []
        self._claimed: set = set()
        self._sql = SqlMetrics(spark)

    def span(self, name: str, layer: str) -> "_Span":
        return _Span(self, name, layer)

    def write(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"run_id": self.run_id, **header}) + "\n")
            for s in self.spans:
                f.write(json.dumps(
                    {k: v for k, v in s.items() if k != "nodes"}) + "\n")

    def self_seconds(self, spans: list) -> dict:
        """Per layer: the durations of ``spans`` minus the time their
        child spans cover."""
        child: dict = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out: dict = {}
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t = tracer
        self.name = name
        self.layer = layer
        self.record = None
        self.seconds = 0.0

    def __enter__(self) -> "_Span":
        t = self.t
        if t.enabled:
            self.record = {
                "run_id": t.run_id, "id": len(t.spans), "name": self.name,
                "layer": self.layer,
                "parent": t._stack[-1]["id"] if t._stack else None,
                "start": None, "end": None,
                "exec_from": t._sql.high_water(), "nodes": []}
            t.spans.append(self.record)
            t._stack.append(self.record)
        self._t0 = time.perf_counter()
        if self.record is not None:
            self.record["start"] = self._t0
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        self.seconds = end - self._t0
        rec = self.record
        if rec is None:
            return
        rec["end"] = end
        self.t._stack.pop()
        upto = self.t._sql.high_water()
        rec["exec_to"] = upto
        # executions started inside child spans belong to the children,
        # which exited first and claimed them
        ids = [i for i in range(rec["exec_from"] + 1, upto + 1)
               if i not in self.t._claimed]
        self.t._claimed.update(ids)
        rec["nodes"] = self.t._sql.nodes(ids)
