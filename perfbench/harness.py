"""Measurement plumbing shared by every workload.

- `start_spark`: one local[k] session whose shuffle files, temp files and
  event log all live under the benchmark's output directory.
- `RssSampler`: peak resident memory of the Spark JVM plus its Python
  workers, sampled from /proc on one thread at a fixed interval.
- `EventLog`: shuffle write, spill, task times and failed tasks per Spark
  job group, read back from the session's own event log.
- `Tracer`: spans (name, start, end, parent, counts) kept in memory and
  written as one JSON file, each span's jobs tagged with its own job group.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import tempfile
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def bench_cores() -> int:
    """k of local[k]: two cores, or one on a single-core machine, so the
    benchmark stays small on a shared host."""
    return min(2, nproc())


def start_spark(out_dir: str, cores: int):
    """SparkSession on local[cores] with explicit shuffle partitions and
    JVM heap size; every file Spark writes lands under out_dir."""
    from kgner.session import get_spark

    ev_dir = os.path.join(out_dir, "eventlog")
    local_dir = os.path.join(out_dir, "local")
    tmp_dir = os.path.join(out_dir, "tmp")
    for d in (ev_dir, local_dir, tmp_dir):
        os.makedirs(d, exist_ok=True)
    # the JVM and the Python workers inherit these at launch
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp_dir
    tempfile.tempdir = tmp_dir
    spark = get_spark(
        "kgner-perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir}",
            "spark.local.dir": local_dir,
            "spark.sql.warehouse.dir": os.path.join(out_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_group(spark, group: str) -> None:
    """Tag every Spark job the calling thread submits from now on."""
    spark.sparkContext.setJobGroup(group, group)


# --- memory -------------------------------------------------------------------


def _proc_stat(pid: int | str) -> tuple[str, str, int, int] | None:
    """(command, state, parent pid, resident pages) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:  # the process has ended
        return None
    rest = stat[stat.rfind(")") + 2 :].split()
    return stat[stat.find("(") + 1 : stat.rfind(")")], rest[0], int(rest[1]), int(rest[21])


def _descendants(root_pid: int) -> list[tuple[int, int, str, int]]:
    """(pid, parent pid, command, resident pages) of every process below
    root_pid."""
    children: dict[int, list[int]] = {}
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _proc_stat(name)) is not None:
            procs[int(name)] = st
            children.setdefault(st[2], []).append(int(name))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        comm, _, parent, pages = procs[pid]
        out.append((pid, parent, comm, pages))
        todo.extend(children.get(pid, []))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of the JVM that root_pid started plus every Python
    process below it. Other descendants are left out: a process the JVM
    forks to run a command shares the JVM's pages until it execs, and
    counting it would add the whole JVM a second time."""
    pages = sum(
        n
        for _, parent, comm, n in _descendants(root_pid)
        if comm.startswith("python") or (comm == "java" and parent == root_pid)
    )
    return pages * os.sysconf("SC_PAGE_SIZE")


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end its JVM and wait until the JVM and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    started = [pid for pid, *_ in _descendants(os.getpid())]
    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the JVM exits when its stdin closes
    try:
        jvm.wait(timeout)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline and any(
        (st := _proc_stat(pid)) is not None and st[1] != "Z" for pid in started
    ):
        time.sleep(0.1)


class RssSampler:
    """Samples the benchmark's process tree every `interval` seconds on one
    thread; `peak_mb()` is the largest sum seen since the last `reset()`."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            now = _tree_rss_bytes(me)
            with self._lock:
                self._peak = max(self._peak, now)

    def reset(self) -> None:
        with self._lock:
            self._peak = _tree_rss_bytes(os.getpid())

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / MB


# --- Spark counters from the event log -----------------------------------------


@dataclass
class GroupStats:
    """Task-level counters of every job run under one job group."""

    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    stage_task_ms: dict[int, list[int]] = field(default_factory=dict)

    @property
    def shuffle_write_mb(self) -> float:
        return self.shuffle_write_bytes / MB

    @property
    def spill_mb(self) -> float:
        return self.spill_bytes / MB

    @property
    def task_skew(self) -> float:
        """Largest (max / median task time) over this group's stages with at
        least two tasks; 1.0 when no stage had two."""
        skews = [
            max(ms) / max(statistics.median(ms), 1.0)
            for ms in self.stage_task_ms.values()
            if len(ms) >= 2
        ]
        return max(skews, default=1.0)


class EventLog:
    """Reads the session's own event log (spark.eventLog.dir) back into
    per-job-group task counters."""

    def __init__(self, spark, out_dir: str):
        self.spark = spark
        app = spark.sparkContext.applicationId
        base = os.path.join(out_dir, "eventlog", app)
        self.path = base if os.path.exists(base) else base + ".inprogress"

    def read(self) -> dict[str, GroupStats]:
        # events reach the log through the asynchronous listener bus; drain
        # it so every finished job's tasks are on disk before reading
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        stage_group: dict[int, str] = {}
        groups: dict[str, GroupStats] = {}
        with open(self.path) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    ev = json.loads(line)
                    sid = ev["Stage ID"]
                    g = groups.setdefault(stage_group.get(sid, ""), GroupStats())
                    info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
                    g.tasks += 1
                    ok = ev["Task End Reason"]["Reason"] == "Success"
                    g.failed_tasks += 0 if ok and not info["Failed"] else 1
                    g.shuffle_write_bytes += (
                        metrics.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        )
                    )
                    g.spill_bytes += metrics.get("Disk Bytes Spilled", 0)
                    g.stage_task_ms.setdefault(sid, []).append(
                        info["Finish Time"] - info["Launch Time"]
                    )
        return groups


# --- spans ----------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Wraps calls into kgner in spans. Each span tags its Spark jobs with a
    job group of its own, so the event log attributes tasks to spans."""

    def __init__(self, spark, run_label: str):
        self.spark = spark
        self.run_label = run_label
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            group=f"{self.run_label}/{name}",
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        set_group(self.spark, sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            set_group(self.spark, parent.group if parent else self.run_label)

    def self_seconds(self, sp: Span) -> float:
        """Span time not covered by its children (children run one after
        another, so their durations add)."""
        kids = sum(c.seconds for c in self.spans if c.parent == sp.id)
        return sp.seconds - kids

    def to_json(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start_s": s.start - t0,
                "end_s": s.end - t0,
                "self_s": self.self_seconds(s),
                "counts": s.counts,
            }
            for s in self.spans
        ]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
