"""Shared measurement machinery: the Spark session under test, timed
reps with process-tree CPU, and the output check."""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import proctree
import stages

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
# Untimed reps before timing: the first pays code generation and most
# of the JIT; rep times keep falling for a few more.
WARMUP_REPS = 5
# Timed reps are a fixed count, --seconds / NOMINAL_REP_S: a warm rep takes
# 1-2 s on 4 cores on a quiet host.  Rep times still drift down slowly
# after warm-up, so every run times the same rep positions; a count set
# by the clock would move the median along that drift.
NOMINAL_REP_S = 1.5
MIN_TIMED_REPS = 3
# JVM heap, fixed (-Xms = -Xmx).  With the 8g default G1 sizes the heap
# by its own heuristics, and the tree's peak RSS varied 2.4-3.9 GB between
# runs of the same code; these corpora need far less.
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Keep Spark, the JVM and Python workers writing inside the checkout,
    and make the package importable on the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    prior = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{prior} {java_opts}" if prior else java_opts


def result(kind: str, values: dict[str, float], correct: bool, attempted: int,
           failed: int) -> dict:
    """The result object, with the metrics ``BENCHMARK.json`` declares
    under ``kind`` (``end_to_end`` or ``per_layer``), named and unit-ed
    as it declares them.  A declared metric left unmeasured is an error."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        declared = json.load(f)[kind]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise RuntimeError(f"{kind} metrics not measured: {missing}")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared
        },
    }


class Session:
    """One Spark session plus the handles the measurements need.

    ``restart`` swaps the SparkContext (e.g. to another master) inside
    the same JVM; ``close`` stops it and waits until the JVM and every
    Python worker it started have exited.  Only a traced session writes
    an event log (see ``stages``)."""

    def __init__(self, master: str, work: str, trace: bool):
        self.work = work
        self.events = os.path.join(work, "events") if trace else None
        if self.events is not None:
            os.makedirs(self.events, exist_ok=True)
        self.spark = None
        self.jvm_pid = None
        self._seen: set[int] = set()
        try:
            self._start(master)
            self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
            self.note_processes()
        except BaseException:
            self.close()  # a JVM may already be up
            raise

    def _start(self, master: str) -> None:
        from ocr_project_spark import get_spark

        conf = stages.session_conf(self.events)
        conf["spark.local.dir"] = os.path.join(self.work, "local")
        conf["spark.driver.memory"] = DRIVER_MEMORY
        conf["spark.driver.extraJavaOptions"] = f"-Xms{DRIVER_MEMORY}"
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=master,
            shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
        )
        self.start_s = time.perf_counter() - t0
        self.metrics = stages.StageMetrics(self.spark, self.events)

    def restart(self, master: str) -> None:
        self.note_processes()
        self.spark.stop()
        self._start(master)

    def note_processes(self) -> None:
        if self.jvm_pid is not None:
            self._seen.update(proctree.tree(self.jvm_pid))

    def close(self) -> None:
        self.note_processes()
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self._stop_jvm()

    def _stop_jvm(self) -> None:
        """Shut the py4j gateway, wait for the JVM, then for every process
        seen in its tree; whatever outlives the grace period is killed."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - must not leave the JVM behind
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        alive = list(self._seen)
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        for p in alive:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5
        while alive and time.monotonic() < deadline:
            time.sleep(0.05)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]


class Reps:
    """Outcome of a series of reps of one callable ``fn(i)``."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.wall: list[float] = []
        self.traced_wall: list[float] = []
        self.cpu: list[float] = []
        self.worker_cpu: list[float] = []
        self.groups: list[str] = []
        self.stages: list[stages.GroupMetrics] = []

    def run(self, session: Session, fn, label: str, n: int, tracer=None) -> "Reps":
        """Execute ``n`` reps, each its own job group.  A rep that raises
        is counted as failed and never retried.  With a tracer, each rep
        is a span that also covers reading the rep's stage metrics."""
        for i in range(n):
            group = f"{label}-{i}"
            session.metrics.group(group)
            self.attempted += 1
            c0 = proctree.sample(session.jvm_pid)
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    fn(i)
                    wall = time.perf_counter() - t0
                else:
                    with tracer.span(label, rep=i):
                        fn(i)
                        wall = time.perf_counter() - t0
                        self.stages.append(session.metrics.read(group))
                    self.traced_wall.append(time.perf_counter() - t0)
            except Exception:  # noqa: BLE001 - a failed rep is counted, not fatal
                self.failed += 1
                log(f"rep {group} failed:\n{traceback.format_exc()}")
            else:
                c1 = proctree.sample(session.jvm_pid)
                self.wall.append(wall)
                self.cpu.append(c1.cpu_s - c0.cpu_s)
                self.worker_cpu.append(
                    (c1.cpu_s - c1.root_own_s) - (c0.cpu_s - c0.root_own_s)
                )
                self.groups.append(group)
            session.note_processes()
        return self


def check_output(table, manifest) -> tuple[float, int]:
    """(match_rate, output span count) of an output table, logged loudly
    when any document differs from the oracle."""
    import workloads

    rate, out_spans = workloads.match_rate(table, manifest["expected"])
    if rate < 1.0:
        log(f"MATCH FAILURE: match_rate={rate:.6f} against the oracle")
    return rate, out_spans
