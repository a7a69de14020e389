"""Instruments for the benchmark: process-tree RSS sampler, Spark
status-store reader, span tracer and host record.

Nothing here changes what the measured calls do; every number is read
from outside the program (``/proc``, the Spark status stores, the clock).
"""

from __future__ import annotations

import hashlib
import os
import re
import subprocess
import threading
import time

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def _process_table() -> dict[int, tuple[int, bytes]]:
    """pid -> (ppid, command name) for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: ppid is the
        # second field after the last ')'
        cut = stat.rindex(b")")
        comm = stat[stat.index(b"(") + 1:cut]
        table[int(name)] = (int(stat[cut + 2:].split()[1]), comm)
    return table


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (driver, JVM,
    Python daemon and workers).

    A child of the JVM still running the java binary is a ``posix_spawn``
    child between clone and exec (Hadoop's local file system shells out to
    ``chmod``): it shares the JVM's address space, so its RSS is the JVM's
    and is not counted twice."""
    table = _process_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        ppid = table.get(pid, (0, b""))[0]
        if table.get(ppid, (0, b""))[1] == b"java" and \
                _exe(pid) == _exe(ppid):
            continue
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * PAGE_BYTES
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread tracking the peak process-tree RSS between
    :meth:`reset` calls. The only thread the benchmark adds."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(root)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_rss_bytes(os.getpid())

    def peak_bytes(self) -> int:
        with self._lock:
            return self._peak


# -- Spark status stores -------------------------------------------------------

_DURATION_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
PYTHON_RUN_METRIC = "time to run Python workers"


def parse_duration_s(text: str) -> float:
    """Total of a formatted SQL timing metric, e.g.
    'total (min, med, max (stageId: taskId))\\n11.8 s (2.9 s, ...)'."""
    line = text.split("\n")[-1].strip()
    m = re.match(r"([\d,.]+)\s*([a-z]+)", line)
    if not m:
        raise ValueError(f"unparsed timing metric: {text!r}")
    return float(m.group(1).replace(",", "")) * _DURATION_UNITS[m.group(2)]


class SparkCounters:
    """Counts what the engine did between :meth:`mark` and :meth:`read`:
    jobs, tasks, shuffle write, spill (from the core ``AppStatusStore``)
    and summed Python-worker run time (from the SQL status store)."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jobs_seen = self._max_job()
        self._exec_seen = self._max_exec()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _max_job(self) -> int:
        jobs = self._jsc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())),
                   default=-1)

    def _max_exec(self) -> int:
        ex = self._sql.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())),
                   default=-1)

    def mark(self) -> None:
        self._drain()
        self._jobs_seen = self._max_job()
        self._exec_seen = self._max_exec()

    def read(self) -> dict:
        from py4j.protocol import Py4JJavaError

        self._drain()
        store = self._jsc.statusStore()
        jobs = store.jobsList(None)
        n_jobs = n_tasks = 0
        stage_ids: set[int] = set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._jobs_seen:
                continue
            n_jobs += 1
            n_tasks += j.numCompletedTasks()
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        shuffle = spill = 0
        for sid in stage_ids:
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage skipped, never attempted
                continue
            shuffle += s.shuffleWriteBytes()
            spill += s.diskBytesSpilled()
        py_run = 0.0
        ex = self._sql.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() <= self._exec_seen:
                continue
            ids = set()
            it = e.metrics().iterator()
            while it.hasNext():
                m = it.next()
                if m.name() == PYTHON_RUN_METRIC:
                    ids.add(m.accumulatorId())
            if not ids:
                continue
            it = self._sql.executionMetrics(e.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in ids:
                    py_run += parse_duration_s(kv._2())
        return {"jobs": n_jobs, "tasks": n_tasks,
                "shuffle_write_mb": shuffle / 2**20,
                "spill_mb": spill / 2**20, "python_run_s": py_run}


# -- spans ---------------------------------------------------------------------


class Tracer:
    """Times one public call per span and records the engine counters of
    that call. Spans flagged ``in_job`` decompose the workload's own job;
    the others are probes of layers the job does not call."""

    def __init__(self, spark, cores: int):
        self.counters = SparkCounters(spark)
        self.cores = cores
        self.spans: list[dict] = []
        self.dropped: list[str] = []

    def span(self, name: str, fn, in_job: bool = True):
        self.counters.mark()
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        c = self.counters.read()
        # a summed worker time above cores x wall cannot be busy time of
        # this call (worker start/init is attributed across reused
        # workers): drop it and say so
        if c["python_run_s"] > self.cores * dt:
            self.dropped.append(
                f"{name}: python_run_s {c['python_run_s']:.2f} > "
                f"{self.cores} cores x wall {dt:.2f}")
            c["python_run_s"] = None
        self.spans.append({"name": name, "s": dt, "in_job": in_job, **c})
        return out

    def seconds(self, name: str) -> float:
        return sum(s["s"] for s in self.spans if s["name"] == name)

    def job_seconds(self) -> float:
        return sum(s["s"] for s in self.spans if s["in_job"])

    def job_counters(self) -> dict:
        """Engine counters summed over the job's spans. A sum that would
        leave out a dropped Python run time reads lower than the truth, so
        it raises instead."""
        job = [s for s in self.spans if s["in_job"]]
        if any(s["python_run_s"] is None for s in job):
            raise RuntimeError(
                "spark.python_run_s failed its cores x wall check: "
                + "; ".join(self.dropped))
        return {
            "spark.jobs": sum(s["jobs"] for s in job),
            "spark.tasks": sum(s["tasks"] for s in job),
            "spark.shuffle_write_mb": sum(s["shuffle_write_mb"]
                                          for s in job),
            "spark.spill_mb": sum(s["spill_mb"] for s in job),
            "spark.python_run_s": sum(s["python_run_s"] for s in job),
        }


# -- host record -----------------------------------------------------------------


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(d, n))
                files += 1
            except OSError:
                continue
    return total, files


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    # start time is in clock ticks since boot (10 ms); now is read at
    # nanosecond resolution from the same clock
    now = time.clock_gettime(time.CLOCK_BOOTTIME)
    return now - start_ticks / os.sysconf("SC_CLK_TCK")


def load_average() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def source_digest(root: str) -> str:
    """sha1 over the package sources (the checkout may not be a git
    repository)."""
    h = hashlib.sha1()
    pkg = os.path.join(root, "data_quality_autohealer_spark")
    for d, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(d, n)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def host_record(root: str, seed: int, cores: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"nproc": cores, "load_start": load_average(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__, "seed": seed,
            "git_commit": git_commit(root),
            "source_sha1": source_digest(root)}
