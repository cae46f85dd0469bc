"""Counters read from outside the engine: Spark job/stage ids and stage
metrics, Catalyst phase times, streaming progress, process-tree memory.

Jobs are counted by id. The DAG scheduler hands out job and stage ids
from dense counters, so the jobs fired between two boundaries are the
difference of ``nextJobId`` across them, exact however many jobs the
status store retains (``spark.ui.retainedJobs`` caps the store, not the
counter). Stage metrics are read from the status store by stage id once
a pass is over, outside every timer.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class SparkCounters:
    """Job/stage id marks and status-store stage metrics for one session."""

    def __init__(self, spark: SparkSession) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._gw = spark.sparkContext._gateway

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id): ids below are already issued."""
        return self._dag.nextJobId(), self._dag.nextStageId()

    def drain_events(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the status store and streaming listeners are complete."""
        self._sc.listenerBus().waitUntilEmpty()

    def stages(self) -> dict[int, dict[str, float]]:
        """Metrics of every retained stage, summed over its attempts;
        ``executed`` is 0 for a stage that was skipped."""
        self.drain_events()
        seq = self._sc.statusStore().stageList(
            None, False, False, self._gw.new_array(self._gw.jvm.double, 0), None
        )
        out: dict[int, dict[str, float]] = {}
        for i in range(seq.length()):
            s = seq.apply(i)
            m = out.setdefault(
                s.stageId(), dict.fromkeys(STAGE_FIELDS, 0.0) | {"executed": 0}
            )
            m["tasks"] += s.numCompleteTasks()
            m["executor_run_s"] += s.executorRunTime() / 1e3
            m["executor_cpu_s"] += s.executorCpuTime() / 1e9
            m["gc_s"] += s.jvmGcTime() / 1e3
            m["input_bytes"] += s.inputBytes()
            m["shuffle_read_bytes"] += s.shuffleReadBytes()
            m["shuffle_write_bytes"] += s.shuffleWriteBytes()
            m["spill_bytes"] += s.diskBytesSpilled()
            if s.status().toString() != "SKIPPED" and s.numCompleteTasks() > 0:
                m["executed"] = 1
        return out


def plan_phases(df: DataFrame) -> dict[str, float]:
    """Force physical planning of ``df`` and return the Catalyst phase
    times its query execution recorded (seconds)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    phases = {}
    while it.hasNext():
        kv = it.next()
        phases[kv._1()] = kv._2().durationMs() / 1e3
    return phases


@dataclass
class BatchProgress:
    query: str
    batch_id: int
    start_ms: int  # trigger start, epoch milliseconds
    duration_ms: dict[str, int]
    input_rows: int


class BatchListener(StreamingQueryListener):
    """Collects the progress record of every micro-batch."""

    def __init__(self) -> None:
        self.batches: list[BatchProgress] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        self.batches.append(
            BatchProgress(
                p.name,
                p.batchId,
                int(start.timestamp() * 1000),
                dict(p.durationMs),
                p.numInputRows,
            )
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def of(self, query: str) -> list[BatchProgress]:
        return [b for b in self.batches if b.query == query]


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def descendants(root: int) -> list[int]:
    """Live process ids below ``root`` (not ``root`` itself)."""
    return _tree(root)[1:]


def _hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


@dataclass
class PeakRss:
    """Samples ``VmHWM`` of this process and all its descendants (JVM,
    Python workers) every ``period`` seconds; the peak of the tree is the
    sum of each process's own high-water mark."""

    period: float = 0.25
    _peak_kb: dict[int, int] = field(default_factory=dict)
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        for pid in _tree(os.getpid()):
            kb = _hwm_kb(pid)
            if kb is not None:
                self._peak_kb[pid] = max(kb, self._peak_kb.get(pid, 0))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def stop_mb(self) -> float:
        """Stop sampling; the tree's summed peak in MB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._sample()
        return sum(self._peak_kb.values()) / 1024.0
