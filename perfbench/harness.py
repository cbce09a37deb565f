"""Shared machinery of the benchmark: spans, operation counts, the Spark
session, and process-tree memory sampling.

Spans are recorded from the benchmark's own files, around the calls into the
package; nothing inside the package is instrumented.
"""

from __future__ import annotations

import itertools
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Times every call the benchmark makes into the package.

    Durations are always measured (the untraced metrics need them).  When
    ``enabled``, each call also becomes a Span kept in memory, and its Spark
    jobs are tagged with the span id through ``setJobGroup`` so the event
    log can attribute stages and tasks to it."""

    def __init__(self, spark_context=None, enabled: bool = False, run_id: str = ""):
        self.sc = spark_context
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        """Yield a dict whose ``s`` key holds the duration after exit."""
        out = {"s": 0.0}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield out
            finally:
                out["s"] = time.perf_counter() - t0
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"{self.run_id}:{next(self._ids)}", name=name,
            start=time.perf_counter(), parent=parent.id if parent else None,
            run_id=self.run_id,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._tag(sp)
        try:
            yield out
        finally:
            sp.end = time.perf_counter()
            out["s"] = sp.duration
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp.id, sp.name)

    def self_times(self) -> dict[str, float]:
        """Span id -> duration minus the time its direct children cover.
        Children of one span run one after another, so their durations do
        not overlap and their sum is the covered time."""
        covered: dict[str, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                covered[sp.parent] = covered.get(sp.parent, 0.0) + sp.duration
        return {sp.id: sp.duration - covered.get(sp.id, 0.0) for sp in self.spans}


@dataclass
class Ops:
    """Operations attempted and failed (raised or failed a check)."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _read(path: str) -> str:
    with open(path) as fh:
        return fh.read()


def _tree(root_pid: int) -> tuple[set[int], dict[int, int], dict[int, list[str]]]:
    """``root_pid`` and its descendants: (pids, parent of each pid, the
    /proc stat fields after the command name of each pid)."""
    parents: dict[int, int] = {}
    fields: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                stat = _read(f"/proc/{entry}/stat")
            except OSError:
                continue  # the process ended while we looked
            # the command name may hold spaces: fields start after ')'
            pid = int(entry)
            fields[pid] = stat.rsplit(")", 1)[1].split()
            parents[pid] = int(fields[pid][1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for child, parent in parents.items():
            if parent == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree, parents, fields


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` (default:
    this process) and its descendants, including descendants that have
    ended: the kernel adds those to their parent's children counters."""
    tree, _parents, fields = _tree(root_pid or os.getpid())
    ticks = sum(sum(int(x) for x in fields[p][11:15]) for p in tree if p in fields)
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss_kb(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and every descendant (driver, JVM and
    Python workers), read from /proc.  Each process counts its PSS: pages
    it shares, as the forked Python workers share their daemon's, are
    split among the sharers, so the sum counts them once.

    A child that the JVM has spawned but not yet exec'd shares the JVM's
    address space, and its PSS would count the whole JVM again.  Such a
    child has its parent's command line and resident size, so it is
    skipped."""
    tree, parents, _fields = _tree(root_pid)

    def ident(pid: int):
        status = _read(f"/proc/{pid}/status")
        rss = next((ln for ln in status.splitlines() if ln.startswith("VmRSS:")), "")
        return _read(f"/proc/{pid}/cmdline"), rss

    total = 0
    for pid in tree:
        try:
            if pid != root_pid and ident(pid) == ident(parents[pid]):
                continue
            for line in _read(f"/proc/{pid}/smaps_rollup").splitlines():
                if line.startswith("Pss:"):
                    total += int(line.split()[1])
                    break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory on a thread; ``peak_mb``
    after stop.  Once a second: reading a 2 GB JVM's smaps_rollup takes
    ~25 ms under the JVM's mmap lock, so sampling must stay sparse."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


HEAP = "2g"


def start_spark(work_dir: str, root: str, event_log_dir: str | None):
    """SparkSession on ``local[nproc]`` through the package's ``get_spark``.

    The environment is set first: Python workers import the package, so
    PYTHONPATH must name the checkout, and every scratch path (Spark local
    dirs, JVM and Python temp files, the package's derived-artifact cache,
    the warehouse) is kept inside the benchmark's work directory."""
    from commoncrawlnewsdataset_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["CCN_CACHE_ROOT"] = os.path.join(work_dir, "cache")
    cpus = nproc()
    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # the heap is committed and touched at start, so peak RSS does not
        # depend on how far the collector happened to grow it
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={work_dir} -XX:-UsePerfData"
        ),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            # Spark 4.1 defaults to zstd, which no installed Python reads
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, f"local[{cpus}]"


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
