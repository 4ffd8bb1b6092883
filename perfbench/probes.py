"""What the benchmark reads from outside the engine: spans it records around public
calls, Spark's own counters (status tracker, SQL plan metrics, storage, block
manager) and the resident memory of its process tree from /proc."""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A Spark SQL metric as the status store formats it -> seconds, bytes or a
    count.  Per-task metrics read "total (min, med, max ...)\\n<total> (...)"."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return float("nan")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class PlanNode:
    def __init__(self, name: str, metrics: dict, children: list):
        self.name = name
        self.metrics = metrics
        self.children = children

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def find(self, name: str):
        return [n for n in self.walk() if n.name == name]

    def rows(self) -> float:
        """Output rows of this node, or of the nearest descendant that counts."""
        for n in self.walk():
            if "number of output rows" in n.metrics:
                return n.metrics["number of output rows"]
        return 0.0


class SparkProbe:
    """Counters read through the Spark driver's JVM; none changes what runs."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def settle(self) -> None:
        """Wait until the listener has seen every event of finished actions."""
        self._jsc.listenerBus().waitUntilEmpty()

    def last_execution_id(self) -> int:
        ex = self._sql.executionsList()
        return ex.apply(ex.size() - 1).executionId() if ex.size() else -1

    def executions_after(self, marker: int) -> list[int]:
        ex = self._sql.executionsList()
        ids = []
        for i in range(ex.size() - 1, -1, -1):
            eid = ex.apply(i).executionId()
            if eid <= marker:
                break
            ids.append(eid)
        return ids[::-1]

    def plan(self, execution_id: int) -> PlanNode:
        """The executed plan of one SQL execution with its metric values."""
        graph = self._sql.planGraph(execution_id)
        values = self._sql.executionMetrics(execution_id)
        nodes, edges = graph.allNodes(), graph.edges()
        kids: dict[int, list[int]] = {}
        for i in range(edges.size()):
            e = edges.apply(i)
            kids.setdefault(e.toId(), []).append(e.fromId())
        built: dict[int, PlanNode] = {}
        child_ids = set()
        for i in range(nodes.size()):
            n = nodes.apply(i)
            ms = n.metrics()
            metrics = {}
            for k in range(ms.size()):
                m = ms.apply(k)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            built[n.id()] = PlanNode(n.name(), metrics, [])
        for parent, cs in kids.items():
            for c in cs:
                if parent in built and c in built:
                    built[parent].children.append(built[c])
                    child_ids.add(c)
        # plan-graph clusters (WholeStageCodegen) carry no edges; skip them as roots
        roots = [n for i, n in built.items() if i not in child_ids and n.children]
        return PlanNode("Executions", {}, roots)

    def plans_after(self, marker: int) -> PlanNode:
        self.settle()
        return PlanNode(
            "Executions", {}, [self.plan(e) for e in self.executions_after(marker)]
        )

    def jobs(self, group: str) -> tuple[int, int]:
        """(jobs, stages) Spark ran under one job group."""
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stages = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            stages += len(info.stageIds) if info else 0
        return len(job_ids), stages

    def lifecycle(self) -> tuple[int, float, int]:
        """(persisted RDDs, MB they hold in memory and on disk, live broadcasts)."""
        persisted = self.sc._jsc.getPersistentRDDs().size()
        stored = sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())
        blocks = self.sc._jvm.org.apache.spark.SparkEnv.get().blockManager()
        it = blocks.blockInfoManager().entries()
        broadcasts = set()
        while it.hasNext():
            block = it.next()._1()
            if block.isBroadcast():
                broadcasts.add(block.broadcastId())
        return persisted, stored / 2**20, len(broadcasts)


class Tracer:
    """Spans around the benchmark's calls into each engine layer, kept in memory
    and written out once at the end.  Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = None

    def operation(self, op) -> None:
        self._op = op

    @contextmanager
    def span(self, layer: str, call: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "op": self._op, "layer": layer, "call": call,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid``, from one pass over /proc/<pid>/stat."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        ppid = _ppid(int(entry))
        if ppid:
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _pss_kib(pid: int) -> int:
    """Proportional resident memory: pages a forked Python worker shares with
    its parent count once over the tree, not once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return 0


def tree_pss_kib() -> int:
    """Resident memory of the process tree.  A process the JVM starts runs in
    the JVM's own address space until it execs its program, and reads as a
    second JVM then; such processes are left out."""
    total = 0
    for p in process_tree():
        exe = _exe(p)
        if os.path.basename(exe) == "java" and _exe(_ppid(p)) == exe:
            continue
        total += _pss_kib(p)
    return total


def process_tree() -> list[int]:
    """This process and every process it started, directly or not."""
    me = os.getpid()
    return [me] + _descendants(me)


class RssSampler:
    """Peak resident memory of the process tree, sampled from /proc."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kib = max(self.peak_kib, tree_pss_kib())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kib / 1024.0
