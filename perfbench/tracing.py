"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark side: ``Tracer.install`` replaces each
layer's public entry point, wherever the engine's modules have bound it, with
a wrapper that records ``(op, name, start, end, parent)`` while tracing is on
and calls straight through while it is off. The engine itself is not edited.

Counters come from outside the program: Spark's status store (by job group),
the JVM's GC MXBeans, and ``/proc`` for CPU time and resident memory.
"""

from __future__ import annotations

import functools
import os
import sys
import time

from py4j.protocol import Py4JError

# (module, attribute path, span name). An attribute path with a dot names a
# method on a class.
ENTRY_POINTS = (
    ("blazegraph_database_spark.server.rest", "SparqlEndpoint.query", "rest.query"),
    ("blazegraph_database_spark.server.rest", "SparqlEndpoint.update", "rest.update"),
    ("blazegraph_database_spark.plans.sparql_parser", "parse_sparql_query", "sparql_parser.parse"),
    ("blazegraph_database_spark.plans.update_parser", "parse_update", "update_parser.parse"),
    ("blazegraph_database_spark.plans.update_parser", "apply_update", "update_parser.apply"),
    ("blazegraph_database_spark.plans.compiler", "evaluate", "compiler.evaluate"),
    ("blazegraph_database_spark.plans.compiler", "construct", "compiler.construct"),
    ("blazegraph_database_spark.plans.compiler", "ask", "compiler.ask"),
    ("blazegraph_database_spark.sources.relational", "load_tables", "relational.load_tables"),
    ("blazegraph_database_spark.operators.gas", "bfs", "gas.bfs"),
    ("blazegraph_database_spark.operators.gas", "sssp", "gas.sssp"),
    ("blazegraph_database_spark.operators.gas", "connected_components", "gas.cc"),
    ("blazegraph_database_spark.operators.gas", "pagerank", "gas.pagerank"),
)
ENGINE_PACKAGE = "blazegraph_database_spark"


class Tracer:
    """In-memory span recorder. Single client thread, so one span stack.

    ``cost_s`` adds up the time the wrappers spend on their own bookkeeping,
    outside the wrapped calls, so the tracing overhead is measured directly."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: str | None = None
        self.spans: list[dict] = []
        self.cost_s = 0.0
        self._stack: list[dict] = []

    # ------------------------------------------------------------ spans --
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            t_in = time.perf_counter()
            span = {
                "op": tracer.op,
                "name": name,
                "parent": tracer._stack[-1]["id"] if tracer._stack else None,
                "id": len(tracer.spans),
                "start": None,
                "end": None,
            }
            tracer.spans.append(span)
            tracer._stack.append(span)
            span["start"] = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter()
                tracer._stack.pop()
                tracer.cost_s += (span["start"] - t_in) + (time.perf_counter() - span["end"])

        return wrapper

    def install(self) -> None:
        """Patch every binding of each entry point in the engine's modules,
        for the life of the process: ``from x import f`` copies a reference,
        so the defining module alone is not enough."""
        import importlib

        for mod_name, path, span_name in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            if "." in path:
                cls_name, meth = path.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(span_name, cls.__dict__[meth]))
                continue
            orig = getattr(mod, path)
            wrapped = self._wrap(span_name, orig)
            for m in list(sys.modules.values()):
                if m is None or not getattr(m, "__name__", "").startswith(ENGINE_PACKAGE):
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapped)

    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]


# ------------------------------------------------------------ counters --
def read_proc_status(pid: int | str = "self") -> dict[str, int]:
    """VmRSS / VmHWM of a process in kB."""
    out = {}
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(("VmRSS:", "VmHWM:")):
                key, val = line.split(":", 1)
                out[key] = int(val.split()[0])
    return out


def proc_cpu_ms(pid: int | str = "self") -> float:
    """utime + stime of a process, from /proc/<pid>/stat, in ms."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    ticks = int(fields[11]) + int(fields[12])
    return 1000.0 * ticks / os.sysconf("SC_CLK_TCK")


def host_snapshot() -> dict:
    """Load average and the aggregate /proc/stat cpu line (idle, steal)."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    ticks = dict(zip(names, cpu))
    return {"loadavg": load, "cpu_ticks": ticks}


def host_window(start: dict, end: dict) -> dict:
    """Idle and steal shares of all cpu ticks between two snapshots."""
    d = {k: end["cpu_ticks"][k] - start["cpu_ticks"].get(k, 0) for k in end["cpu_ticks"]}
    total = sum(d.values()) or 1
    return {
        "loadavg_start": start["loadavg"],
        "loadavg_end": end["loadavg"],
        "idle_pct": round(100.0 * d.get("idle", 0) / total, 2),
        "steal_pct": round(100.0 * d.get("steal", 0) / total, 2),
    }


class JvmProbe:
    """GC, CPU and memory of the Spark driver JVM, read from outside."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._gc = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def gc(self) -> tuple[float, int]:
        ms = cnt = 0
        for bean in self._gc:
            ms += max(int(bean.getCollectionTime()), 0)
            cnt += max(int(bean.getCollectionCount()), 0)
        return float(ms), cnt

    def snapshot(self) -> dict:
        gc_ms, gc_count = self.gc()
        return {
            "gc_ms": gc_ms,
            "gc_count": gc_count,
            "cpu_ms": proc_cpu_ms(self.pid),
            "py_cpu_ms": proc_cpu_ms("self"),
        }

    def rss_mb(self) -> float:
        return read_proc_status(self.pid)["VmRSS"] / 1024.0

    def peak_rss_mb(self) -> float:
        """VmHWM of the python driver plus the JVM."""
        return (read_proc_status("self")["VmHWM"] + read_proc_status(self.pid)["VmHWM"]) / 1024.0


STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ms": "executorCpuTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


def spark_counters(spark, group: str) -> dict:
    """Jobs, stages, tasks and stage metrics of one job group, read from the
    status store after the listener bus has drained. Times are epoch ms."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "job_spans": []}
    out.update({k: 0.0 for k in STAGE_FIELDS})
    seen_stages: set[int] = set()
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        out["jobs"] += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            out["job_spans"].append((sub.get().getTime(), done.get().getTime()))
        ids = job.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:
                continue  # never submitted (skipped) and not retained
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(st.numTasks())
            for key, meth in STAGE_FIELDS.items():
                out[key] += float(getattr(st, meth)())
    out["executor_cpu_ms"] /= 1e6  # reported in ns
    return out
