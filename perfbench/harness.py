"""Shared plumbing for the workloads: the pinned Spark session, an
in-memory span tracer, a process-tree RSS sampler and JVM / Spark
scheduler counters. Nothing here imports the engine package at module
load, so a checkout without it fails in ``run.py``'s import check."""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field


def pin_environment(work_dir: str) -> None:
    """Size the session to this machine and keep every file the run
    writes inside ``work_dir``. Must run before anything calls
    ``tempfile.gettempdir()`` (it caches its first answer)."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
        # a quarter of RAM, at most 6 GiB: the heap plus python workers
        # and off-heap buffers stay well below physical memory
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1024, min(6144, total_mb // 4))}m"
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM the run starts (the launcher too): temp files in the work
    # dir, and no hsperfdata file, which HotSpot always puts under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session(work_dir: str):
    from webcrawl_lowres_lang_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop the context, then close the gateway and wait for the JVM
    (and with it every python worker it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# -- tracing ----------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counts: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory, written once by ``dump``. With
    ``enabled=False`` every call is a no-op, so the untimed-trace path
    and the timed path run the same code."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []

    def open(self, name: str, parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(Span(name, time.monotonic(), float("nan"), parent, self.run_id))
        return len(self.spans) - 1

    def close(self, sid: int | None, **counts) -> None:
        if sid is not None:
            self.spans[sid].end = time.monotonic()
            self.spans[sid].counts.update(counts)

    def add(self, name: str, start: float, end: float, parent: int | None, **counts) -> None:
        if self.enabled:
            self.spans.append(Span(name, start, end, parent, self.run_id, dict(counts)))

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": i, "name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "run_id": s.run_id, "counts": s.counts}
                    for i, s in enumerate(self.spans)
                ],
                f,
            )


# -- resource counters ----------------------------------------------------------


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                resident = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process exited between listdir and open
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = resident * page
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def jvm_stats(spark) -> dict[str, float]:
    """Driver-JVM garbage-collection time and peak heap (all pools)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    heap = sum(
        p.getPeakUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if str(p.getType().toString()) == "Heap memory"
    )
    return {"gc_s": gc_ms / 1000.0, "heap_peak_mb": heap / 2**20}


class JobCounter:
    """Spark jobs and completed tasks since ``mark``, from job-id deltas of
    the status tracker (the retained job list is capped, ids are not)."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self._last = self._max_job()

    def _max_job(self) -> int:
        ids = self.tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def mark(self) -> None:
        self._last = self._max_job()

    def since_mark(self) -> tuple[int, int]:
        hi = self._max_job()
        stages: set[int] = set()
        for jid in range(self._last + 1, hi + 1):
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            st = self.tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numCompletedTasks
        return hi - self._last, tasks


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker and
    checksum files."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def timed(fn, *args, **kwargs):
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t


def noop(df) -> None:
    """Run a plan to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()
