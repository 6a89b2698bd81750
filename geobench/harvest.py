"""Per-layer harvest from outside the library.

* ``PlanRecorder`` is a py4j-implemented ``QueryExecutionListener``: for
  every SQL execution it walks the executed plan (inside
  ``AdaptiveSparkPlan`` and each ``*QueryStageExec``) and keeps each
  node's name and exact metric values. Library-internal actions (the
  write inside ``write_geo_parquet``, a join's snapshot collect) are
  recorded the same way as the benchmark's own.
* ``engine_stats`` reads jobs, stages and tasks of one job group from
  the status store.
* ``ProcSampler`` reads CPU time and peak RSS of the JVM and its Python
  workers from ``/proc``, plus steal ticks and load average.

Listener events arrive asynchronously; ``drain`` waits for the listener
bus, after which every execution of the finished operation is recorded.
"""

from __future__ import annotations

import os
import statistics
import threading
from typing import Dict, List, Optional

# Python-evaluation nodes: each execution of one is a JVM -> Python
# crossing.
PYTHON_NODES = ("ArrowEvalPython", "FlatMapCoGroupsInPandas",
                "FlatMapGroupsInPandas", "BatchEvalPython",
                "MapInPandas", "AggregateInPandas")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def walk_plan(plan) -> List[dict]:
    """Flatten an executed plan into [{"node", "metrics", "children"}]
    (children as indices into the list)."""
    out: List[dict] = []

    def visit(p) -> int:
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return visit(p.executedPlan())
        if cls.endswith("QueryStageExec"):
            return visit(p.plan())
        metrics = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        idx = len(out)
        rec = {"node": p.nodeName(), "metrics": metrics, "children": []}
        out.append(rec)
        for c in _seq(p.children()):
            rec["children"].append(visit(c))
        return idx

    visit(plan)
    return out


class PlanRecorder:
    """Records every SQL execution's plan metrics until ``take``."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started
        self._sc = spark.sparkContext
        ensure_callback_server_started(self._sc._gateway)
        self._lock = threading.Lock()
        self._pending: List[dict] = []
        self._errors: List[str] = []
        spark._jsparkSession.listenerManager().register(self)

    # QueryExecutionListener
    def onSuccess(self, func_name, qe, duration_ns):
        try:
            rec = {"func": func_name, "ms": duration_ns / 1e6,
                   "nodes": walk_plan(qe.executedPlan())}
        except Exception as e:  # a failed walk must not kill the bus
            with self._lock:
                self._errors.append(repr(e))
            return
        with self._lock:
            self._pending.append(rec)

    def onFailure(self, func_name, qe, exc):
        with self._lock:
            self._errors.append(f"{func_name}: execution failed")

    def drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def take(self) -> List[dict]:
        """Executions recorded since the last take (call ``drain``
        first)."""
        with self._lock:
            out, self._pending = self._pending, []
        return out

    @property
    def errors(self) -> List[str]:
        return list(self._errors)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def node_rows_in(nodes: List[dict], idx: int) -> int:
    """Rows flowing into a node: for each child, the nearest descendant
    that counts rows (numOutputRows, or an exchange's recordsRead)."""
    total = 0
    for c in nodes[idx]["children"]:
        m = nodes[c]["metrics"]
        if "numOutputRows" in m:
            total += m["numOutputRows"]
        elif "recordsRead" in m:
            total += m["recordsRead"]
        else:
            total += node_rows_in(nodes, c)
    return total


def plan_layers(executions: List[dict]) -> Dict[str, float]:
    """Sum the sources / functions / join counters of a list of
    executions into one flat dict."""
    d = dict.fromkeys(
        ["files_read", "bytes_read", "scan_ms", "rows_scanned",
         "files_written", "bytes_written", "crossings", "rows_sent",
         "bytes_sent", "bytes_received", "boot_ms", "init_ms",
         "python_total_ms", "bnlj_pairs", "exploded_rows",
         "explode_input_rows", "broadcast_bytes"], 0)
    for ex in executions:
        nodes = ex["nodes"]
        for i, n in enumerate(nodes):
            name, m = n["node"], n["metrics"]
            if name.startswith("Scan parquet"):
                d["files_read"] += m.get("numFiles", 0)
                d["bytes_read"] += m.get("filesSize", 0)
                d["scan_ms"] += m.get("scanTime", 0)
                d["rows_scanned"] += m.get("numOutputRows", 0)
            elif name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
                d["files_written"] += m.get("numFiles", 0)
                d["bytes_written"] += m.get("numOutputBytes", 0)
            elif name in PYTHON_NODES:
                d["crossings"] += 1
                d["rows_sent"] += node_rows_in(nodes, i)
                d["bytes_sent"] += m.get("pythonDataSent", 0)
                d["bytes_received"] += m.get("pythonDataReceived", 0)
                d["boot_ms"] += m.get("pythonBootTime", 0)
                d["init_ms"] += m.get("pythonInitTime", 0)
                d["python_total_ms"] += m.get("pythonTotalTime", 0)
            elif name == "BroadcastNestedLoopJoin":
                d["bnlj_pairs"] += m.get("numOutputRows", 0)
            elif name == "Generate":
                d["exploded_rows"] += m.get("numOutputRows", 0)
                d["explode_input_rows"] += node_rows_in(nodes, i)
            elif name == "BroadcastExchange":
                d["broadcast_bytes"] += m.get("dataSize", 0)
    return d


def _date_ms(opt) -> Optional[int]:
    v = _opt(opt)
    return None if v is None else int(v.getTime())


def engine_stats(spark, group: str, spans: Optional[list] = None,
                 parent: Optional[int] = None) -> Dict[str, float]:
    """Jobs, stages and task metrics of one job group, and the max/median
    task run time of its dominant stage. With ``spans``, each job is
    appended as a span (epoch seconds) under the span below ``parent``
    that was open when it was submitted, and each completed stage under
    its job."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty_q = sc._gateway.new_array(sc._jvm.double, 0)
    d = dict.fromkeys(
        ["jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
         "gc_ms", "scheduler_delay_ms", "shuffle_bytes_written",
         "shuffle_records", "shuffle_fetch_wait_ms", "spill_bytes"], 0)
    dominant_run, skew = 0, 1.0   # the stage with most run time
    seen = set()
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        d["jobs"] += 1
        if spans is not None:
            start = _date_ms(job.submissionTime())
            jspan = _append_span(spans, f"spark.job.{jid}",
                                 _enclosing(spans, parent, start), start,
                                 _date_ms(job.completionTime()),
                                 {"status": str(job.status())})
        for sid in _seq(job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            for sd in _seq(store.stageData(sid, False,
                                           sc._jvm.java.util.ArrayList(),
                                           False, empty_q)):
                if str(sd.status()) != "COMPLETE":
                    continue
                d["stages"] += 1
                d["tasks"] += sd.numCompleteTasks()
                d["executor_run_ms"] += sd.executorRunTime()
                d["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                d["gc_ms"] += sd.jvmGcTime()
                d["shuffle_bytes_written"] += sd.shuffleWriteBytes()
                d["shuffle_records"] += sd.shuffleWriteRecords()
                d["shuffle_fetch_wait_ms"] += sd.shuffleFetchWaitTime()
                d["spill_bytes"] += (sd.memoryBytesSpilled()
                                     + sd.diskBytesSpilled())
                runs = []
                for t in _seq(store.taskList(sid, sd.attemptId(), 1 << 20)):
                    d["scheduler_delay_ms"] += t.schedulerDelay()
                    tm = _opt(t.taskMetrics())
                    if tm is not None:
                        runs.append(tm.executorRunTime())
                if len(runs) >= 2 and sd.executorRunTime() > dominant_run:
                    med = statistics.median(runs)
                    dominant_run = sd.executorRunTime()
                    skew = max(runs) / med if med > 0 else 1.0
                if spans is not None:
                    _append_span(spans, f"spark.stage.{sid}", jspan,
                                 _date_ms(sd.submissionTime()),
                                 _date_ms(sd.completionTime()),
                                 {"tasks": sd.numCompleteTasks()})
    d["max_task_over_median"] = skew
    return d


def _enclosing(spans: list, root: Optional[int],
               t_ms: Optional[int]) -> Optional[int]:
    """The latest-opened span under ``root`` (root included) that was
    open at ``t_ms``: the Python call that submitted a job."""
    if root is None or t_ms is None:
        return root
    t = t_ms / 1e3
    inside = {root}
    best = root
    for s in spans[root + 1:]:
        if s["parent"] in inside and not s["name"].startswith("spark."):
            inside.add(s["id"])
            if s["start"] <= t <= (s["end"] or t):
                best = s["id"]
    return best


def _append_span(spans: list, name: str, parent, start_ms, end_ms,
                 attrs: dict) -> Optional[int]:
    if start_ms is None or end_ms is None:
        return parent
    spans.append({"id": len(spans), "parent": parent, "name": name,
                  "start": start_ms / 1e3, "end": end_ms / 1e3,
                  "attrs": attrs})
    return len(spans) - 1


class ProcSampler:
    """CPU seconds and peak RSS of a process tree (the JVM and the Python
    workers it forks), read from /proc."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self._tick = os.sysconf("SC_CLK_TCK")

    def _tree(self) -> List[int]:
        children: Dict[int, List[int]] = {}
        for e in os.listdir("/proc"):
            if not e.isdigit():
                continue
            try:
                with open(f"/proc/{e}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            ppid = int(st[st.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(e))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def cpu_s(self) -> float:
        """utime + stime of every live process in the tree, plus the
        reaped children each has accumulated (cutime + cstime)."""
        total = 0
        for p in self._tree():
            try:
                with open(f"/proc/{p}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            fields = st[st.rindex(")") + 2:].split()
            total += sum(int(v) for v in fields[11:15])
        return total / self._tick

    def rss_hwm_mb(self) -> float:
        total = 0
        for p in self._tree():
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total / 1024.0


def steal_ticks() -> Optional[int]:
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])
    except (OSError, IndexError, ValueError):
        return None


def loadavg() -> Optional[float]:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return None
