"""Per-job-group stage metrics from Spark's in-process status store.

Every measured call runs under its own job group
(``SparkContext.setJobGroup``).  Afterwards the group's jobs give stage
ids (``statusTracker``), and each stage's task metrics come from the
live ``AppStatusStore``: ``stageList`` with Spark 4.1's five-argument
signature for stage totals and ``taskList`` for per-task durations.
Both work with ``spark.ui.enabled=false``.

The event log is written only by traced runs.  There, if the status
store cannot be read (its Scala signatures are not a public API), the
same numbers are summed from the uncompressed JSON event log instead
(``spark.eventLog.compress=false``; the default zstd codec is not
installed).  End-to-end runs write no event log, so its serialisation
stays out of their timed reps; there a status store that cannot be read,
or that has dropped one of the group's stages, fails the run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

from pyspark.sql import SparkSession

MB = 2**20


def session_conf(event_dir: str | None) -> dict[str, str]:
    """Session settings the collector relies on; with ``event_dir`` (the
    traced run) also the event log and a status store that keeps every
    stage and task of the run."""
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "10000000",
        })
    return conf


class GroupMetrics:
    """Summed task metrics of one job group."""

    __slots__ = ("tasks", "cpu_s", "shuffle_write_mb", "spill_mb", "input_rows", "task_ms")

    def __init__(self):
        self.tasks = 0
        self.cpu_s = self.shuffle_write_mb = self.spill_mb = 0.0
        # rows, not bytes: Spark's input byte count misses most parquet
        # column reads here (tens of KB for a 10 MB scan)
        self.input_rows = 0
        self.task_ms: list[float] = []

    @property
    def task_skew(self) -> float:
        """Longest task time over the median task time."""
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 0.0


class StageMetrics:
    """Reads per-group metrics; ``source`` says which backend answered.
    Without ``event_dir`` there is no fallback."""

    def __init__(self, spark: SparkSession, event_dir: str | None):
        self.sc = spark.sparkContext
        self.event_dir = event_dir
        self.source = "status_store"

    def group(self, name: str) -> None:
        """Tag every job started from here on with job group ``name``."""
        self.sc.setJobGroup(name, name)

    def _drain(self) -> None:
        # Listener events (task ends, stage completions) reach the status
        # store and the event log asynchronously; wait until delivered.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _stage_ids(self, name: str) -> list[int]:
        tracker = self.sc.statusTracker()
        ids: set[int] = set()
        for job in tracker.getJobIdsForGroup(name):
            info = tracker.getJobInfo(job)
            if info is not None:
                ids.update(info.stageIds)
        return sorted(ids)

    def read(self, name: str) -> GroupMetrics:
        self._drain()
        if self.source == "status_store":
            try:
                return self._from_status_store(name)
            except Exception as e:  # noqa: BLE001 - non-public Scala API
                if self.event_dir is None:
                    raise RuntimeError(f"status store unreadable for group {name}") from e
                print(f"status store unavailable ({type(e).__name__}: {e}); "
                      "reading the event log", file=sys.stderr, flush=True)
                self.source = "event_log"
        return self._from_event_log(name)

    def _from_status_store(self, name: str) -> GroupMetrics:
        jvm = self.sc._jvm
        gw = self.sc._gateway
        store = self.sc._jsc.sc().statusStore()
        wanted = set(self._stage_ids(name))
        out = GroupMetrics()
        found: set[int] = set()
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid not in wanted:
                continue
            found.add(sid)
            done = st.numCompleteTasks()
            if done == 0:
                continue  # skipped (shuffle reuse) or never ran
            out.tasks += done
            out.cpu_s += st.executorCpuTime() / 1e9
            out.shuffle_write_mb += st.shuffleWriteBytes() / MB
            out.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            out.input_rows += st.inputRecords()
            tasks = store.taskList(sid, st.attemptId(), 1 << 30)
            for j in range(tasks.size()):
                dur = tasks.apply(j).duration()
                if dur.isDefined():
                    out.task_ms.append(float(dur.get()))
        if not wanted or found != wanted:
            raise RuntimeError(
                f"group {name}: stages {sorted(wanted - found)} of {sorted(wanted)} "
                "not in the status store"
            )
        return out

    def _from_event_log(self, name: str) -> GroupMetrics:
        files = sorted(glob.glob(os.path.join(self.event_dir, "*")), key=os.path.getmtime)
        if not files:
            raise RuntimeError(f"no event log in {self.event_dir}")
        out = GroupMetrics()
        stage_ids: set[int] = set()
        with open(files[-1], encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("spark.jobGroup.id") == name:
                        stage_ids.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_ids:
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    if info.get("Failed") or info.get("Killed"):
                        continue
                    out.tasks += 1
                    out.task_ms.append(float(info["Finish Time"] - info["Launch Time"]))
                    out.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    out.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
                    out.spill_mb += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / MB
                    out.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
        return out
