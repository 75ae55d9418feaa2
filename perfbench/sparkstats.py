"""Readers for Spark's own metrics and for process memory.

Both status stores are filled with ``spark.ui.enabled=false``:

- stage metrics from the core store, ``sc._jsc.sc().statusStore()``;
- SQL-node metrics (the MapInArrow node's Python timings and bytes)
  from ``spark._jsparkSession.sharedState().statusStore()``.

The benchmark runs one query at a time, so the stages and SQL executions
a query created are exactly those with ids above the ones seen before it
started (:class:`Cursor`).
"""

from __future__ import annotations

import os
import re
import statistics
from pathlib import Path

# unit suffixes of the SQL metric strings Spark formats for display
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_QTY_RX = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# MapInArrow node metric label -> benchmark metric name
PYTHON_METRICS = {
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "total_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "received_mb",
    "number of output rows": "rows_received",
}

STAGE_METRICS = ("executor_run_s", "executor_cpu_s", "gc_s",
                 "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "tasks",
                 "task_p50_s", "task_max_s", "arrow_nodes")


def parse_metric(value: str) -> float:
    """'total (min, med, max ...)\\n1.2 s (...)' or '100,000' -> float
    in seconds, MiB or plain count."""
    text = value.split("\n")[-1]
    m = _QTY_RX.match(text)
    if m is None:
        raise ValueError(f"unparsed SQL metric {value!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME:
        return num * _TIME[unit]
    if unit in _SIZE:
        return num * _SIZE[unit] / (1 << 20)
    if unit:
        raise ValueError(f"unknown unit in SQL metric {value!r}")
    return num


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


class Cursor:
    """Marks the stage and SQL-execution ids seen so far; ``take()``
    returns the metrics of everything created since, and moves on."""

    def __init__(self, spark):
        self._spark = spark
        self._jvm = spark.sparkContext._jvm
        self._core = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stage_hi = self._max_stage()
        self._exec_hi = self._max_exec()

    def _stages(self) -> list:
        no_quantiles = self._spark.sparkContext._gateway.new_array(
            self._jvm.double, 0)
        return _seq(self._core.stageList(None, False, False, no_quantiles,
                                         None))

    def _max_stage(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def _execs(self) -> list:
        return _seq(self._sql.executionsList())

    def _max_exec(self) -> int:
        return max((e.executionId() for e in self._execs()), default=-1)

    def take(self) -> dict:
        """Stage and Python-node metrics since the last mark."""
        stages = [s for s in self._stages() if s.stageId() > self._stage_hi]
        execs = [e for e in self._execs()
                 if e.executionId() > self._exec_hi]
        out = dict.fromkeys(STAGE_METRICS, 0.0)
        task_times: list[float] = []
        for s in stages:
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / (1 << 20)
            out["shuffle_read_mb"] += s.shuffleReadBytes() / (1 << 20)
            out["spill_mb"] += (s.memoryBytesSpilled()
                                + s.diskBytesSpilled()) / (1 << 20)
            out["tasks"] += s.numCompleteTasks()
            for t in _seq(self._core.taskList(s.stageId(), s.attemptId(),
                                               1 << 20)):
                m = t.taskMetrics()
                if m.isDefined():
                    task_times.append(m.get().executorRunTime() / 1e3)
        if task_times:
            out["task_p50_s"] = statistics.median(task_times)
            out["task_max_s"] = max(task_times)
        python = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        for e in execs:
            values = self._sql.executionMetrics(e.executionId())
            nodes = self._sql.planGraph(e.executionId()).allNodes()
            for node in _seq(nodes):
                if node.name() != "MapInArrow":
                    continue
                out["arrow_nodes"] += 1
                for m in _seq(node.metrics()):
                    key = PYTHON_METRICS.get(m.name())
                    v = values.get(m.accumulatorId())
                    if key and v.isDefined():
                        python[key] += parse_metric(v.get())
        self._stage_hi = max([self._stage_hi]
                             + [s.stageId() for s in stages])
        self._exec_hi = max([self._exec_hi]
                            + [e.executionId() for e in execs])
        out["python"] = python
        return out


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat.
    Steal is time the hypervisor ran something else on our vCPUs."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0]
              .split()[1:]]
    return fields[7], sum(fields)


def jvm_pid(spark) -> int:
    """Pid of the driver JVM (spark-submit execs java in place)."""
    return spark.sparkContext._gateway.proc.pid


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            stat = Path(f"/proc/{entry}/stat").read_text()
        except OSError:
            continue   # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the Python worker daemon and
    its forked workers are children of the JVM)."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _vm_kib(pid: int, field: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(field + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root: int) -> float:
    """Sum of each live process's peak RSS (VmHWM) in the tree."""
    return sum(_vm_kib(p, "VmHWM") for p in process_tree(root)) / 1024


def rss_breakdown(root: int) -> str:
    """'jvm <MB> + <n> python <MB>' of the tree's peak RSS."""
    tree = process_tree(root)
    py = [_vm_kib(p, "VmHWM") / 1024 for p in tree[1:]]
    return (f"jvm {_vm_kib(root, 'VmHWM') / 1024:.0f} MB + {len(py)} python"
            f" {sum(py):.0f} MB")


def pin_tree(root: int, cpus: set[int]) -> None:
    """Set the CPU affinity of every thread of every process in the
    tree; threads and processes started later inherit it."""
    for pid in process_tree(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                pass    # thread exited
