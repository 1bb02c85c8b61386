"""Measurement from outside the engine: process-tree CPU and memory from
/proc, spans tagged with Spark job groups, and per-layer numbers read
from Spark's status store (stages, jobs, SQL operator metrics)."""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


# -- process tree (/proc) -------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and every live descendant: the Python driver, the driver
    JVM it launched, the JVM's Python daemon and workers."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of the live process tree, including
    children that already exited and were reaped (cutime/cstime)."""
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests (all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM, MB) of each live process in the tree,
    keyed by 'pid:name'."""
    out = {}
    for p in process_tree():
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{p}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


# -- spans ----------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id).  Each span
    sets a Spark job group, so the stages and SQL executions that run
    inside it can be attached to it afterwards.  Disabled, ``span`` is a
    no-op and nothing touches Spark."""

    def __init__(self, sc, enabled: bool, run_id: str):
        self.sc = sc
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"{self.run_id}:{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(
                    f"{self.run_id}:{parent}", self.spans[parent]["name"]
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str, spark_by_span: dict[int, dict]) -> None:
        """Write every span with its duration, self time (duration minus
        the part covered by child spans) and the Spark work tagged to
        it."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            out.append({
                **s,
                "start": s["start"] - t0,
                "end": s["end"] - t0,
                "duration_s": dur,
                "self_s": dur - child_s.get(s["id"], 0.0),
                "spark": spark_by_span.get(s["id"], {}),
            })
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": out}, f, indent=1)


# -- Spark status store ---------------------------------------------------

_SIZE = {"B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6,
         "GiB": 1024**3 / 1e6}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^([0-9.,]+) ([A-Za-z]+)")

#: SQL operator metrics of the Arrow/Python channel, in MB and s
ARROW_METRICS = {
    "data sent to Python workers": "to_python_mb",
    "data returned from Python workers": "from_python_mb",
    "time to run Python workers": "python_run_s",
}


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric: '12.3 MiB', '17 ms', or the
    multi-line 'total (min, med, max ...)\\n12.3 MiB (...)' form; sizes
    come back in MB, times in seconds."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL.match(line.strip())
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 0.0))


class StatusReader:
    """Reads jobs, stages and SQL operator metrics that ran after a
    watermark — the one driver thread runs jobs in sequence, so the
    id range between two watermarks is exactly one measured window."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._scan_stage: dict[int, bool] = {}

    def _jlist(self, seq):
        return [seq.apply(i) for i in range(seq.size())]

    @staticmethod
    def _newer(seq, key, after: int) -> list:
        """Entries of a newest-first status list with id > ``after``."""
        out = []
        for i in range(seq.size()):
            item = seq.apply(i)
            if key(item) <= after:
                break
            out.append(item)
        return out

    def _stage_seq(self):
        jvm = self.sc._jvm
        empty = self.sc._gateway.new_array(jvm.double, 0)
        return self.store.stageList(
            jvm.java.util.ArrayList(), False, False, empty,
            jvm.java.util.ArrayList(),
        )

    def _stages(self, after: int = -1) -> list:
        stages = self._newer(self._stage_seq(), lambda s: s.stageId(), after)
        # a skipped stage (its shuffle output is reused) ran no tasks
        return [s for s in stages if s.status().toString() != "SKIPPED"]

    def _jobs(self, after: int = -1) -> list:
        return self._newer(self.store.jobsList(None), lambda j: j.jobId(), after)

    def _executions(self, after: int = -1) -> list:
        """SQL executions with id > ``after`` (the SQL store lists them
        oldest first)."""
        n = self.sql.executionsCount()
        out, back = [], 16
        while True:
            seq = self.sql.executionsList(max(0, n - back), back)
            out = [e for e in self._jlist(seq) if e.executionId() > after]
            if len(out) < seq.size() or back >= n:
                return out
            back *= 4

    def watermark(self) -> dict:
        def newest(seq, key):
            return key(seq.apply(0)) if seq.size() else -1

        n = self.sql.executionsCount()
        last = self.sql.executionsList(max(0, n - 1), 1)
        return {
            "job": newest(self.store.jobsList(None), lambda j: j.jobId()),
            "stage": newest(self._stage_seq(), lambda s: s.stageId()),
            "exec": newest(last, lambda e: e.executionId()),
        }

    def scans_source(self, stage_id: int, source: str) -> bool:
        """Whether the stage's RDD graph reads the ``source`` data source
        (a 'BatchScan <source>' node)."""
        hit = self._scan_stage.get(stage_id)
        if hit is None:
            names: list[str] = []
            todo = [self.store.operationGraphForStage(stage_id).rootCluster()]
            while todo:
                c = todo.pop()
                names.append(c.name())
                names += [n.name() for n in self._jlist(c.childNodes())]
                todo += self._jlist(c.childClusters())
            hit = any(n.startswith(f"BatchScan {source}") for n in names)
            self._scan_stage[stage_id] = hit
        return hit

    def source_scans_since(self, mark: dict, source: str = "shapefile") -> int:
        return sum(1 for s in self._stages(mark["stage"])
                   if self.scans_source(s.stageId(), source))

    def plan_nodes_since(self, mark: dict) -> set[str]:
        """Operator names of the SQL plans executed after ``mark``."""
        names: set[str] = set()
        for e in self._executions(mark["exec"]):
            graph = self.sql.planGraph(e.executionId())
            names.update(n.name() for n in self._jlist(graph.allNodes()))
        return names

    def window(self, start: dict, end: dict, source: str = "shapefile") -> dict:
        """Spark work between two watermarks: job/stage/task counts, task
        time, shuffle volume, source-scan stages, slowest/median task of
        the widest stage, and the Arrow channel's SQL metrics."""
        jobs = [j for j in self._jobs(start["job"]) if j.jobId() <= end["job"]]
        stages = [s for s in self._stages(start["stage"])
                  if s.stageId() <= end["stage"]]
        out = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.numTasks() for s in stages),
            "task_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "task_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / 1e6,
            "shuffle_records": sum(s.shuffleWriteRecords() for s in stages),
            "scan_stages": 0,
            "scan_s": 0.0,
            "task_skew": 1.0,
            "to_python_mb": 0.0,
            "from_python_mb": 0.0,
            "python_run_s": 0.0,
        }
        for s in stages:
            if self.scans_source(s.stageId(), source):
                out["scan_stages"] += 1
                out["scan_s"] += s.executorRunTime() / 1e3
        widest = max(stages, key=lambda s: (s.numTasks(), s.executorRunTime()),
                     default=None)
        if widest is not None and widest.numTasks() > 1:
            q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summ = self.store.taskSummary(widest.stageId(), widest.attemptId(), q)
            if summ.isDefined():
                run = summ.get().executorRunTime()
                med, top = run.apply(0), run.apply(1)
                out["task_skew"] = top / med if med > 0 else 1.0
        for e in self._executions(start["exec"]):
            eid = e.executionId()
            if eid > end["exec"]:
                continue
            names = {m.accumulatorId(): m.name() for m in self._jlist(e.metrics())}
            values = self.sql.executionMetrics(eid)
            it = values.iterator()
            while it.hasNext():
                kv = it.next()
                key = ARROW_METRICS.get(names.get(kv._1()))
                if key:
                    out[key] += _metric_total(kv._2())
        return out

    def by_job_group(self, run_id: str) -> dict[int, dict]:
        """Per span id: jobs, stages and task seconds tagged with that
        span's job group."""
        stage_by_id = {s.stageId(): s for s in self._stages()}
        out: dict[int, dict] = {}
        for j in self._jobs():
            g = j.jobGroup()
            if not (g.isDefined() and g.get().startswith(run_id + ":")):
                continue
            sid = int(g.get().rsplit(":", 1)[1])
            rec = out.setdefault(sid, {"jobs": 0, "stages": 0, "task_run_s": 0.0,
                                       "task_cpu_s": 0.0})
            rec["jobs"] += 1
            ids = j.stageIds()
            for i in range(ids.size()):
                s = stage_by_id.get(ids.apply(i))
                if s is None:
                    continue
                rec["stages"] += 1
                rec["task_run_s"] += s.executorRunTime() / 1e3
                rec["task_cpu_s"] += s.executorCpuTime() / 1e9
        return out
