"""Measurement helpers: spans, py4j call counts, process-tree RSS, Spark
job-group counts and event-log task metrics.

None of these reach into the program under test: spans wrap the
benchmark's own calls into the program's public functions, the py4j
counter wraps the gateway client of the benchmark process, and Spark's
own status tracker and event log supply the executor-side numbers.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time


def pct(values: list[float], q: float) -> float:
    """The q-quantile (0..1) by linear interpolation; 0.0 for no values."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """In-memory spans: (id, parent, op, name, start, end).  A disabled
    tracer records nothing and its ``span`` is a bare context manager,
    so the untraced run pays no bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class Py4jCounter:
    """Counts gateway commands sent by this process while ``active``."""

    def __init__(self, spark):
        self.calls = 0
        self.active = False
        self._client = spark.sparkContext._gateway._gateway_client
        inner = self._client.send_command

        def send_command(*args, **kwargs):
            if self.active:
                self.calls += 1
            return inner(*args, **kwargs)

        self._client.send_command = send_command

    @contextlib.contextmanager
    def count(self):
        before = self.calls
        self.active = True
        try:
            yield lambda: self.calls - before
        finally:
            self.active = False

    def close(self) -> None:
        with contextlib.suppress(AttributeError):
            del self._client.send_command


def descendants(pid_set: set[int]) -> set[int]:
    """The given pids and every process descended from them."""
    found = set(pid_set)
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the ')'
        parent_of[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent_of.items():
            if ppid in found and pid not in found:
                found.add(pid)
                grew = True
    return found


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver
    JVM, Python workers), sampled from /proc every ``interval`` s.  The
    process tree is walked again only every ``rescan`` samples, so a
    sample reads one small file per known process."""

    def __init__(self, interval: float = 0.2, rescan: int = 5):
        self.interval = interval
        self.rescan = rescan
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        pids: set[int] = set()
        n = 0
        while not self._stop.is_set():
            if n % self.rescan == 0:
                pids = descendants({root})
            n += 1
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class JobGroups:
    """One Spark job group per traced operation; counts its jobs, stages
    and tasks through the status tracker."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.groups: list[str] = []

    @contextlib.contextmanager
    def group(self, name: str):
        gid = f"perfbench-{len(self.groups)}-{name}"
        self.groups.append(gid)
        self._sc.setJobGroup(gid, name)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self) -> dict[str, float]:
        tracker = self._sc.statusTracker()
        jobs = stages = tasks = 0
        for gid in self.groups:
            for jid in tracker.getJobIdsForGroup(gid):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        stages += 1
                        tasks += st.numTasks
        n = max(1, len(self.groups))
        return {
            "spark.jobs_per_op": jobs / n,
            "spark.stages_per_op": stages / n,
            "spark.tasks_per_op": tasks / n,
        }


def event_log_metrics(log_dir: str, groups: list[str]) -> dict[str, float]:
    """Shuffle bytes written, bytes spilled and JVM GC seconds per
    operation, and the median over jobs of the scan-stage task-time skew
    (max / median task run time of each job's first stage), read from
    the Spark event log(s) in ``log_dir``.  Only jobs of the given job
    groups (one per traced operation) count."""
    wanted = set(groups)
    shuffle = spill = gc_ms = 0
    stage_task_ms: dict[int, list[int]] = {}
    first_stage_of_job: list[int] = []
    counted_stages: set[int] = set()
    logs = [
        os.path.join(d, f)
        for d, _, files in os.walk(log_dir)
        for f in sorted(files)
        if not f.startswith(".") and not f.startswith("appstatus")
    ]
    for path in logs:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line and '"SparkListenerJobStart"' not in line:
                    continue
                ev = json.loads(line)
                if ev["Event"] == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    ids = ev.get("Stage IDs") or []
                    if group in wanted and ids:
                        counted_stages.update(ids)
                        first_stage_of_job.append(min(ids))
                    continue
                if ev["Stage ID"] not in counted_stages:
                    continue
                m = ev.get("Task Metrics") or {}
                shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                gc_ms += m.get("JVM GC Time", 0)
                stage_task_ms.setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
    skews = []
    for sid in first_stage_of_job:
        times = stage_task_ms.get(sid)
        if times and len(times) > 1 and median(times) > 0:
            skews.append(max(times) / median(times))
    n = max(1, len(groups))
    return {
        "spark.shuffle_write_bytes": shuffle / n,
        "spark.spill_bytes": spill / n,
        "spark.gc_s": gc_ms / 1000.0 / n,
        "spark.scan_task_skew": median(skews),
    }
