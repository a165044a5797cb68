"""Shared pieces of the benchmark: statistics, spans, run isolation,
process-tree memory sampling and the run-condition stamps.

Nothing here imports pyspark, so the generator process and the tests
can use it without starting a JVM.
"""

from __future__ import annotations

import fnmatch
import json
import math
import os
import shlex
import shutil
import signal
import subprocess
import threading
import time

#: Store families the product writes under ``tempfile.gettempdir()``;
#: finding a new one in the shared temp dir after a run means the run
#: was not isolated.
LEAK_PATTERNS = ("sparkgraft_*", "*_twin_*")


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100), the same rule
    as ``numpy.percentile``'s default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values) -> float:
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs a non-empty sample of positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail_samples(values, q: float) -> int:
    """How many samples lie strictly beyond the ``q`` percentile."""
    cut = percentile(values, q)
    return sum(1 for v in values if v > cut)


def interval_union(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, attrs), written once
    at the end of a run.  Times are epoch seconds so they line up with
    Spark's event-log timestamps."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def span(self, name: str, parent: int | None = None, **attrs) -> "_Span":
        return _Span(self, name, parent, attrs)

    def _add(self, rec: dict) -> int:
        with self._lock:
            self.spans.append(rec)
            return len(self.spans) - 1

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, parent, attrs) -> None:
        self.tracer, self.name, self.parent, self.attrs = tracer, name, parent, attrs
        self.id: int | None = None

    def __enter__(self) -> "_Span":
        self.rec = {"name": self.name, "start": time.time(), "end": None,
                    "parent": self.parent, **self.attrs}
        self.id = self.tracer._add(self.rec)
        return self

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.time()


# ---------------------------------------------------------------------------
# run isolation
# ---------------------------------------------------------------------------


class RunDirs:
    """A private directory tree for one run, inside the checkout: temp
    dir (the product's ``ops/store.py`` caches land here), warehouse,
    Spark local dirs and event log.  ``env()`` gives the environment
    every process of the run gets; ``close()`` removes the tree."""

    def __init__(self, root: str, workload: str, trace: bool) -> None:
        self.root = os.path.join(root, ".perfbench-work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.tmp = os.path.join(self.root, "tmp")
        self.local = os.path.join(self.root, "spark-local")
        self.warehouse = os.path.join(self.root, "warehouse")
        self.events = os.path.join(self.root, "events") if trace else None
        self.sql_warehouse = os.path.join(self.root, "spark-warehouse")
        for d in (self.tmp, self.local, self.events):
            if d:
                os.makedirs(d)
        self.repo = root

    def env(self) -> dict:
        conf = [
            f"spark.sql.warehouse.dir={self.sql_warehouse}",
            f"spark.local.dir={self.local}",
        ]
        if self.events:
            conf += [
                "spark.eventLog.enabled=true",
                f"spark.eventLog.dir=file://{self.events}",
                "spark.eventLog.compress=false",
                "spark.eventLog.rolling.enabled=false",
            ]
        java = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        args = " ".join(f"--conf {shlex.quote(c)}" for c in conf)
        env = dict(os.environ)
        env.update(
            TMPDIR=self.tmp,
            SPARK_LOCAL_DIRS=self.local,
            PYTHONPATH=os.pathsep.join(
                p for p in (self.repo, os.environ.get("PYTHONPATH")) if p
            ),
            PYTHONDONTWRITEBYTECODE="1",
            PYSPARK_SUBMIT_ARGS=(
                f"{args} --driver-java-options {shlex.quote(java)} pyspark-shell"
            ),
        )
        return env

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def leaked_stores(shared_tmp: str, before: set[str]) -> list[str]:
    """Store directories that appeared in the shared temp dir during the
    run."""
    try:
        now = set(os.listdir(shared_tmp))
    except OSError:
        return []
    return sorted(
        n for n in now - before
        if any(fnmatch.fnmatch(n, p) for p in LEAK_PATTERNS)
    )


def dir_usage(path: str, suffix: str = "") -> tuple[int, int, int]:
    """(bytes, files, directories) under ``path``, counting only files
    whose names end with ``suffix``."""
    nbytes = nfiles = ndirs = 0
    for dirpath, dirnames, filenames in os.walk(path):
        ndirs += len(dirnames)
        for f in filenames:
            if not f.endswith(suffix):
                continue
            try:
                nbytes += os.path.getsize(os.path.join(dirpath, f))
                nfiles += 1
            except OSError:
                pass
    return nbytes, nfiles, ndirs


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces or parens: split after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _statm(pid: int) -> list[int] | None:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return None


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out += kids.get(p, [])
        todo += kids.get(p, [])
    return out


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and all its descendants.  A child whose
    memory figures equal its parent's shares the parent's address space
    (the JVM starts Python workers by vfork + exec; until the exec the
    child reports the whole JVM's RSS), so it is not counted twice."""
    kids = _children()
    total, todo = 0, [(pid, None)]
    while todo:
        p, parent_statm = todo.pop()
        statm = _statm(p)
        if statm is None:
            continue
        if statm != parent_statm:
            total += statm[1] * os.sysconf("SC_PAGE_SIZE")
        todo.extend((k, statm) for k in kids.get(p, []))
    return total


class RssSampler:
    """Samples a process tree's RSS on a thread; ``peak_mb`` after
    ``stop()``."""

    def __init__(self, pid: int, interval: float = 0.25) -> None:
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(self.interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# run conditions
# ---------------------------------------------------------------------------


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from the virtual machine since boot
    (summed over CPUs); its growth during a run shows contention from
    outside."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM, and the Python workers the
    JVM started, have ended (the JVM would only notice the closed pipe
    once this process exits)."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    workers = descendants(proc.pid)
    proc.stdin.close()
    try:
        proc.wait(30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 10
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in workers:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _min_of_3(fn) -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_probe_s() -> float:
    """bench.py's single-thread CPython loop, min of 3."""

    def loop():
        s = 0
        for i in range(5_000_000):
            s += i * i
        return s

    return _min_of_3(loop)


def spark_probe_s(spark) -> float:
    """bench.py's fixed 32-partition Spark aggregate, min of 3."""
    return _min_of_3(
        lambda: spark.range(0, 50_000_000, 1, 32).selectExpr("sum(id * 3 % 7)").collect()
    )
