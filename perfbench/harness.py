"""Measurement plumbing shared by the workloads: the pinned Spark session,
the span tracer with Spark job/stage/task counts, the process-tree RSS
sampler, host provenance and small statistics helpers.

Nothing here changes the program under test; spans are recorded around
the benchmark's own calls into the library's public functions.
"""

from __future__ import annotations

import json
import os
import statistics
import tempfile
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


# ---------------------------------------------------------------- statistics
def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def dir_files(path: str) -> int:
    return sum(len(files) for _root, _dirs, files in os.walk(path))


# ------------------------------------------------------------------ host
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_probe() -> dict:
    """Host provenance for one run: cores, load average and a 0.25 s
    single-thread spin calibration (iterations per microsecond of a fixed
    integer loop; lower means the host was busy)."""
    la = os.getloadavg()
    t0 = time.perf_counter()
    n = x = 0
    while time.perf_counter() - t0 < 0.25:
        for _ in range(10_000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        n += 10_000
    dt = time.perf_counter() - t0
    return {"nproc": nproc(), "loadavg": list(la), "spin_mops": n / dt / 1e6}


class RssSampler:
    """Peak memory of this process and all its descendants (the JVM and the
    Python workers it forks), sampled from /proc. Each process counts its
    proportional set size, so pages shared between forked processes (the
    Python worker daemon and its workers, a JVM child before it execs) are
    counted once."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_by_name: dict[str, int] = {}  # process name -> bytes, at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def _tree_rss(self) -> tuple[int, dict]:
        parent, names = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue  # the process exited between listing and reading
            # the command name may contain spaces: fields follow the last ')'
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
            names[int(name)] = stat[stat.find("(") + 1:stat.rfind(")")]
        me = os.getpid()
        total, by_name = 0, {}
        for pid in parent:
            p = pid
            while p and p != me:
                p = parent.get(p, 0)
            if p != me:
                continue
            try:
                pss = self._pss(pid)
            except OSError:
                continue
            total += pss
            by_name[names[pid]] = by_name.get(names[pid], 0) + pss
        return total, by_name

    def sample(self) -> None:
        total, by_name = self._tree_rss()
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_by_name = total, by_name

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


# --------------------------------------------------------------- session
def start_session(work_dir: str, cores: int, driver_memory: str):
    """The benchmark's own SparkSession, pinned to this host: ``cores``
    local threads and a driver heap that fits in RAM. Every scratch path
    (shuffle files, JVM and Python temp files, warehouse) lives under
    ``work_dir`` so a run writes only inside its checkout."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = tmp
    from parser_indexer_py_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": driver_memory,
            "spark.local.dir": local,
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _descendants() -> dict[int, str]:
    """pid -> start time of every live process below this one."""
    parent, start = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] == "Z":
            continue  # exited, waiting to be reaped
        parent[int(name)], start[int(name)] = int(fields[1]), fields[19]
    me, out = os.getpid(), {}
    for pid in parent:
        p = parent[pid]
        while p and p != me:
            p = parent.get(p, 0)
        if p == me:
            out[pid] = start[pid]
    return out


def _alive(pid: int, started: str) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return False
    return fields[0] != "Z" and fields[19] == started  # not a reused pid


def _wait_gone(procs: dict[int, str], timeout: float) -> dict[int, str]:
    deadline = time.monotonic() + timeout
    while True:
        for pid in list(procs):
            try:
                os.waitpid(pid, os.WNOHANG)  # reap it if it is our child
            except ChildProcessError:
                pass
        procs = {p: s for p, s in procs.items() if _alive(p, s)}
        if not procs or time.monotonic() >= deadline:
            return procs
        time.sleep(0.05)


def stop_session(spark) -> None:
    """Stop the session and wait until every process it started has ended:
    the JVM (it exits when its stdin closes) and the Python workers it
    forked. What is still running after a grace period is terminated,
    then killed. Safe to call with ``spark=None`` after a failed start."""
    import signal

    from pyspark import SparkContext

    # taken before the stop: stopping the worker daemon orphans its workers
    procs = _descendants()
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        procs.update(_descendants())
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        procs = _wait_gone(procs, 30.0)
        for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
            procs.update(_descendants())
            if not procs:
                break
            for pid in procs:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            procs = _wait_gone(procs, grace)
        if proc is not None:
            proc.wait()


# ---------------------------------------------------------------- tracer
class Tracer:
    """Spans around the benchmark's calls into each layer.

    A span records name, start, end, parent, request id, call key and the
    Spark jobs, stages and tasks its calls launched (read back through
    ``sc.statusTracker()`` from a per-span job group; a parent's counts
    include its children's). Spans stay in memory until :meth:`dump`.
    When disabled every method is a no-op, so untraced runs pay nothing.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._request = 0
        self.overhead_s = 0.0  # time spent inside the tracer itself
        self.requests = 0
        self.request_overhead_s = 0.0  # the part of it spent inside requests

    @contextmanager
    def request(self, kind: str):
        """Root span of one client request; its children share its id."""
        if not self.enabled:
            yield
            return
        self._request += 1
        self.requests += 1
        before = self.overhead_s
        try:
            with self.span(f"request.{kind}"):
                yield
        finally:
            self.request_overhead_s += self.overhead_s - before

    @contextmanager
    def span(self, name: str, key=None):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": self._request,
            "key": None if key is None else repr(key),
            "jobs": 0, "stages": 0, "tasks": 0,
        }
        self.spans.append(rec)
        group = f"perfbench-span-{rec['id']}"
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        try:
            yield rec
        finally:
            rec["end"] = t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            jobs = list(self.status.getJobIdsForGroup(group))
            stages = []
            for j in jobs:
                info = self.status.getJobInfo(j)
                if info is not None:
                    stages.extend(info.stageIds)
            tasks = 0
            for s in stages:
                info = self.status.getStageInfo(s)
                if info is not None:
                    tasks += info.numTasks
            rec["jobs"] += len(jobs)
            rec["stages"] += len(stages)
            rec["tasks"] += tasks
            if parent is not None:
                for c in ("jobs", "stages", "tasks"):
                    parent[c] += rec[c]
            self.overhead_s += time.perf_counter() - t1

    # -- derived views ------------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def self_time(self, span: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans
            if c["parent"] == span["id"] and "end" in c
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def self_median(self, name: str) -> float:
        return median(self.self_time(s) for s in self.named(name))

    def count_median(self, name: str, field: str) -> float:
        return median(s[field] for s in self.named(name))

    def unstable_counts(self) -> list[dict]:
        """Identical calls (same span name and call key) whose job, stage
        or task counts differ. Counts may be cited only when they repeat."""
        by_key = defaultdict(list)
        for s in self.spans:
            if s["key"] is not None and "end" in s:
                by_key[(s["name"], s["key"])].append(
                    (s["jobs"], s["stages"], s["tasks"])
                )
        return [
            {"name": n, "key": k, "counts": v}
            for (n, k), v in by_key.items()
            if len(v) > 1 and len(set(v)) > 1
        ]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = dict(extra)
        out["spans"] = self.spans
        out["unstable_counts"] = self.unstable_counts()
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
