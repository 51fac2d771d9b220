"""Measurement plumbing shared by the workloads: the run environment,
Spark's own counters read over py4j, peak memory, percentiles and the
span tracer used by traced runs."""

from __future__ import annotations

import json
import os
import platform
import statistics
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


class Workload:
    """What run.py drives. ``setup_once`` runs ``setup_reps`` times and
    setup_s takes the median; ``warm_up`` also counts as set-up;
    ``after_setup`` prepares the checks untimed. ``measure`` returns the
    latency of each operation and the units of work done, ``check``
    returns (operations attempted, operations failed) and ``layers`` the
    per-layer metrics of a traced run."""

    setup_reps = 3

    def warm_up(self) -> None:
        pass

    def after_setup(self) -> None:
        pass


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def physical_mem_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def pin_env() -> dict:
    """Pin the environment before the JVM starts: Spark's Python workers
    import the program from the checkout, local mode uses every CPU this
    process may run on, the Spark driver's heap stays well below
    physical memory, and scratch files stay inside the checkout."""
    ncpu = cpu_count()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap_mb = min(4096, physical_mem_mb() // 4)
    pypath = os.environ.get("PYTHONPATH", "")
    os.environ.update(
        PYTHONPATH=ROOT + (os.pathsep + pypath if pypath else ""),
        SPARK_GRAFT_CPUS=str(ncpu),
        SPARK_DRIVER_MEMORY=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                "--conf spark.ui.retainedJobs=1000000",
                "--conf spark.ui.retainedStages=1000000",
                f"--driver-java-options -Djava.io.tmpdir={tmp}",
                "pyspark-shell",
            ]
        ),
    )
    return {"nproc": ncpu, "driver_memory_mb": heap_mb, "python": platform.python_version()}


def materialize(tracer, df, held: list):
    """In a traced run, compute ``df`` now and keep it in ``held`` for the
    caller to unpersist: each layer's output exists before the next layer
    starts, so each span holds only its own layer's work. Untraced runs
    leave the plan lazy."""
    if not tracer.enabled:
        return df
    df = df.persist()
    df.count()
    held.append(df)
    return df


def stop_session(spark) -> None:
    """Stop the session, then end the JVM it runs in and wait for it: the
    gateway JVM exits when its stdin closes, and takes Spark's Python
    workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class SparkCounters:
    """Engine counters read from outside the program: the job and stage
    records in the AppStatusStore and the JVM's garbage collector beans. The listener bus is drained before every read so
    the store has seen every event posted so far."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._seen_job = -1
        self._stages_seen: set[int] = set()
        self._tot = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "task_s", "shuffle_read_mb", "shuffle_write_mb"), 0
        )
        self.jvm_pid = int(self._jvm.ProcessHandle.current().pid())

    def versions(self) -> dict:
        return {
            "spark": self._sc.version(),
            "jvm": str(self._jvm.java.lang.System.getProperty("java.version")),
        }

    def snapshot(self) -> dict:
        """Cumulative totals over every job finished so far. Task metrics
        come from each stage's final record, which the status store writes
        when the stage completes (its live executor summary lags)."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)
        top = self._seen_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._seen_job:
                continue
            top = max(top, job.jobId())
            ids = job.stageIds()
            for k in range(ids.size()):
                self._add_stage(store, ids.apply(k))
        self._seen_job = top
        gc_ms = sum(
            b.getCollectionTime()
            for b in self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        return {
            "t": time.perf_counter(),
            "cpu": time.process_time(),
            "jobs": jobs.size(),
            **self._tot,
            "gc_s": gc_ms / 1000.0,
        }

    def _add_stage(self, store, stage_id: int) -> None:
        if stage_id in self._stages_seen:
            return
        self._stages_seen.add(stage_id)
        st = store.lastStageAttempt(stage_id)
        if st.status().toString() == "SKIPPED":
            return
        t = self._tot
        t["stages"] += 1
        t["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        t["failed_tasks"] += st.numFailedTasks()
        t["task_s"] += st.executorRunTime() / 1000.0
        t["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
        t["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20

    @staticmethod
    def delta(a: dict, b: dict, ncpu: int) -> dict:
        wall = b["t"] - a["t"]
        task_s = b["task_s"] - a["task_s"]
        return {
            "spark.jobs": b["jobs"] - a["jobs"],
            "spark.stages": b["stages"] - a["stages"],
            "spark.tasks": b["tasks"] - a["tasks"],
            "spark.failed_tasks": b["failed_tasks"] - a["failed_tasks"],
            "spark.task_s": task_s,
            "spark.core_busy_frac": task_s / (wall * ncpu) if wall > 0 else 0.0,
            "spark.gc_s": b["gc_s"] - a["gc_s"],
            "spark.shuffle_read_mb": b["shuffle_read_mb"] - a["shuffle_read_mb"],
            "spark.shuffle_write_mb": b["shuffle_write_mb"] - a["shuffle_write_mb"],
            "driver.py_cpu_s": b["cpu"] - a["cpu"],
        }

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.jvm_pid) + vm_hwm_mb(os.getpid())


class Tracer:
    """In-memory spans around calls into the program's layers.

    A span is (name, start, end, parent, request id); the parent is the
    enclosing span on the same thread. Disabled tracers record nothing
    and cost one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, rid=None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "rid": rid if rid is not None else (stack[-1]["rid"] if stack else None),
            "parent": stack[-1]["id"] if stack else None,
            "start": time.perf_counter(),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the part of it
        covered by its child spans."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
