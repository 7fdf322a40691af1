"""Traced runs: spans recorded around the calls into the program, and Spark
counters read from Spark's status store and event log.

Spans are kept in memory and written out when the run ends. Each job span
(one key in one pass) has the children ``build`` (the key's plan function),
``plan`` (forcing ``queryExecution.executedPlan``) and ``action``
(``toPandas``). Jobs run one at a time, so the Spark jobs and stages created
between two status-store snapshots belong to the job between them.
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

# SQL metrics of the Python nodes (MapInArrow, ArrowEvalPython, ...), by the
# name Spark gives them; times in ms, sizes in bytes.
PY_METRICS = {
    "time to run Python workers": "run",
    "time to initialize Python workers": "init",
    "time to start Python workers": "start",
    "data sent to Python workers": "sent",
    "data returned from Python workers": "returned",
}
PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
# durationMs parts in the order a trigger runs them
DURATION_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                  "addBatch", "commitOffsets")


class Spans:
    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return sid

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans}, indent=0))


class StatusStore:
    """Snapshots of Spark's status store. Listener events are delivered
    asynchronously, so every read first drains the listener bus."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def mark(self) -> tuple[int, int]:
        """(highest job id, highest stage id) created so far."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        return (
            -1 if jobs.isEmpty() else jobs.head().jobId(),
            -1 if stages.isEmpty() else stages.head().stageId(),
        )

    def stages_after(self, stage_id: int) -> list[dict]:
        """Executor counters of every stage newer than ``stage_id`` (the list
        is ordered newest first)."""
        self._bus.waitUntilEmpty()
        out = []
        it = self._store.stageList(None, False, False, self._no_quantiles, None).iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= stage_id:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out.append({
                "stage": s.stageId(),
                "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "shuffle_write": s.shuffleWriteBytes(),
                "shuffle_read": s.shuffleReadBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        return out

    def cache(self) -> tuple[int, int]:
        """(persisted RDDs, their memory plus disk bytes)."""
        infos = self._jsc.sc().getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return self._jsc.getPersistentRDDs().size(), size


def read_event_log(log_dir: Path) -> tuple[dict[int, dict[str, float]], list[dict]]:
    """Python-node SQL metrics summed per stage (from each task's accumulator
    updates) and every streaming progress record, from the event log."""
    py_by_stage: dict[int, dict[str, float]] = {}
    progress: list[dict] = []
    for path in sorted(log_dir.iterdir()):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    for acc in ev.get("Task Info", {}).get("Accumulables", ()):
                        part = PY_METRICS.get(acc.get("Name"))
                        if part is not None:
                            d = py_by_stage.setdefault(ev["Stage ID"], {})
                            d[part] = d.get(part, 0.0) + float(acc.get("Update") or 0)
                elif PROGRESS_EVENT in line:
                    progress.append(json.loads(line)["progress"])
    return py_by_stage, progress


def progress_start(p: dict) -> float:
    """Epoch seconds of a progress record's trigger start."""
    return dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
