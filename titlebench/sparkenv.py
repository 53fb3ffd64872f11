"""Spark session, process and status-store plumbing for the benchmark.

Everything a run writes (warehouse, ``spark.local.dir``, ``java.io.tmpdir``,
checkpoint blocks) lives under the run's work directory, the JVM heap is
fixed, and :func:`shutdown` waits until the JVM, the Python daemon and the
workers have exited, so no run overlaps the next one.
"""

from __future__ import annotations

import os
import time

DRIVER_HEAP = "1g"
ARROW_BATCH_ROWS = 10000  # spark.sql.execution.arrow.maxRecordsPerBatch


def task_slots() -> int:
    """Leave one core to the JVM and the driver; at most three slots keeps
    the memory footprint small on shared hosts."""
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


def start_session(work: str, slots: int):
    from pyspark.sql import SparkSession

    for d in ("local", "tmp", "warehouse", "checkpoint"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName("titlebench")
        .config("spark.driver.memory", DRIVER_HEAP)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(slots))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoint"))
    return spark


def settle(spark) -> None:
    """Collect garbage in the driver and the JVM between passes."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


# --------------------------------------------------------------------------
# Processes
# --------------------------------------------------------------------------

def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _proc_stat(pid: int) -> tuple[str, int] | None:
    """(state, ppid) of ``pid``, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return fields[0], int(fields[1])


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                children.setdefault(st[1], []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def python_workers(spark) -> list[int]:
    """The Python daemon and its forked workers under the JVM."""
    out = []
    for pid in descendants(jvm_pid(spark)):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" in f.read():
                    out.append(pid)
        except OSError:
            pass
    return out


def worker_count(spark) -> int:
    """Forked workers, not counting the daemon they are forked from."""
    procs = set(python_workers(spark))
    return sum(1 for p in procs if (_proc_stat(p) or ("", 0))[1] in procs)


def peak_rss_mb(pid: int) -> float | None:
    """VmHWM of ``pid`` in MB, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def _alive(pid: int) -> bool:
    st = _proc_stat(pid)
    return st is not None and st[0] != "Z"


def wait_gone(pids, timeout: float = 60.0) -> None:
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {[p for p in pids if _alive(p)]}")
        time.sleep(0.05)


def stop_context(spark) -> None:
    """Stop the SparkContext (the JVM stays up) and wait for its Python
    daemon and workers to exit."""
    pids = python_workers(spark)
    spark.stop()
    wait_gone(pids)


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for every process."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = [proc.pid] + descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_gone(pids)


# --------------------------------------------------------------------------
# Application status store (task metrics per job group)
# --------------------------------------------------------------------------

def _opt(o, default=0):
    return o.get() if o.isDefined() else default


def group_tasks(spark, group: str) -> dict:
    """Task metrics of the jobs of ``group``: each executed stage's task
    durations, and executor run time, JVM GC time and shuffle bytes
    written summed over all tasks."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    stages, run_ms, gc_ms, shuffle_b = [], 0, 0, 0
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for sid in (info.stageIds if info else []):
            tasks = store.taskList(sid, 0, 100000)
            if tasks.size() == 0:
                continue  # skipped stage: its output was reused
            durations = []
            for i in range(tasks.size()):
                t = tasks.apply(i)
                durations.append(_opt(t.duration()))
                m = t.taskMetrics()
                if m.isDefined():
                    m = m.get()
                    run_ms += m.executorRunTime()
                    gc_ms += m.jvmGcTime()
                    shuffle_b += m.shuffleWriteMetrics().bytesWritten()
            stages.append(durations)
    return {"stage_durations_ms": stages, "run_ms": run_ms, "gc_ms": gc_ms,
            "shuffle_bytes": shuffle_b}
