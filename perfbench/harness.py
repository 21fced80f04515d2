"""Run isolation, tracing, host diagnostics and statistics shared by
the workloads.

The benchmark times calls into the engine's public functions from
outside; nothing here patches engine code. Tracing (``--trace 1``)
adds, per call, a Spark job group and a read of the status store right
after the call, because the session keeps only its last 100 jobs and
200 stages.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager


# ---- statistics -----------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(values, p: float, min_beyond: int = 10) -> float:
    """Nearest-rank ``p``-th percentile, refused (``ValueError``) when
    fewer than ``min_beyond`` samples lie beyond it: a tail read off a
    handful of samples is just the slowest one or two requests."""
    n = len(values)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < min_beyond:
        raise ValueError(
            f"p{p:g} over {n} samples has {n - rank} beyond it; need {min_beyond}"
        )
    return float(sorted(values)[rank - 1])


# ---- process memory -------------------------------------------------------


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python driver plus its JVM."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every live
    descendant (the JVM and its Python workers), including what their
    exited children were charged."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, (ppid, _) in stats.items() if ppid in frontier} - tree
    return sum(stats[p][1] for p in tree if p in stats) / os.sysconf("SC_CLK_TCK")


# ---- run isolation --------------------------------------------------------


class RunDirs:
    """Fresh per-run directories under ``root`` for everything the run
    writes: Spark local dirs, warehouse, artifact cache, temp files and
    each workload's own data. Removed by ``cleanup``."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        if os.path.exists(self.root):
            shutil.rmtree(self.root)
        for sub in ("local", "warehouse", "artifacts", "tmp", "data"):
            os.makedirs(os.path.join(self.root, sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def environ(self, cpus: int, driver_memory: str) -> dict[str, str]:
        tmp = self.path("tmp")
        # no JVM writes outside the run dir: temp files here, no
        # hsperfdata (the launcher JVM of spark-submit included)
        java_io = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        java_opts = f"{java_io} -XX:+UseParallelGC -Xms{driver_memory}"
        return {
            "SPARK_LAUNCHER_OPTS": java_io,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": driver_memory,
            "SPARK_LOCAL_DIRS": self.path("local"),
            "SPARK_GRAFT_WAREHOUSE": self.path("warehouse"),
            "CDC_ARTIFACT_DIR": self.path("artifacts"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": (
                f"--conf 'spark.driver.extraJavaOptions={java_opts}' "
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def file_index(path: str) -> dict[str, tuple[int, int]]:
    """``relpath -> (size, mtime_ns)`` of every data file under
    ``path``; used to find the bytes a merge rewrote."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, f)
            st = os.stat(full)
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


# ---- tracing --------------------------------------------------------------


class Tracer:
    """Spans around calls into the engine's layers.

    Every span records its wall time. With ``enabled`` it also sets a
    Spark job group named after the span, and right after the call
    reads every job started since the span or its last child span
    opened (self counts: the status store lists newest first, so the
    read stops at the first older job), and
    the last attempt of each of their stages: jobs, stages, tasks,
    executor run time, shuffle and spill bytes. JVM-wide GC time comes
    from the GC MXBeans. Spans stay in memory; ``dump`` writes them
    when the run ends.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore() if enabled else None
        self._jvm = spark._jvm
        self._next_id = 0
        self._last_job = self._newest_job() if enabled else -1

    def _newest_job(self) -> int:
        it = self._store.jobsList(None).iterator()
        return it.next().jobId() if it.hasNext() else -1

    def gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def _new_jobs(self) -> list:
        jobs = []
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() <= self._last_job:
                break
            jobs.append(j)
        if jobs:
            self._last_job = jobs[0].jobId()
        return jobs

    def _spark_counts(self) -> dict:
        jobs = self._new_jobs()
        c = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_ms": 0,
             "shuffle_bytes": 0, "spill_bytes": 0}
        for j in jobs:
            it = j.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["executor_run_ms"] += sd.executorRunTime()
                c["shuffle_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return c

    @contextmanager
    def span(self, name: str, parent: int | None = None, counts: bool = True):
        """``with tracer.span("engine.build") as s:`` — ``s["wall_s"]``
        is set on exit. When tracing, a span with ``counts`` also gets
        its own job group and the Spark counts of its jobs; a span
        without (a parent whose children do all the Spark work) keeps
        only its wall time."""
        sid = self._next_id
        self._next_id += 1
        rec = {"id": sid, "parent": parent, "name": name}
        counted = self.enabled and counts
        if counted:
            outer = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(f"{name}#{sid}", name, False)
            self._last_job = self._newest_job()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            if counted:
                rec.update(self._spark_counts())
                self._sc.setLocalProperty("spark.jobGroup.id", outer)
            if self.enabled:
                self.spans.append(rec)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit: the gateway JVM
    quits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def calibrate(spark) -> float:
    """Host-speed diagnostic: ``bench.py``'s synthetic shuffle+agg over
    ``spark.range`` (no IO, no engine code), one run."""
    t0 = time.perf_counter()
    (
        spark.range(0, 50_000_000, 1, 32)
        .selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k")
        .sum("v")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0
