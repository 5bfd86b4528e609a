"""Spans, job-group tagging and status-store attribution for traced runs.

A span is (id, parent, name, layer, start, end) in wall-clock seconds.
With tracing on, every span also becomes the Spark job group of the jobs
submitted while it is the innermost open span, so after the pass each job
in Spark's status store (read through the UI's REST endpoints) is
attributed to the span that caused it. Build-time jobs fired by a read API
(schema inference) or by a checkpoint become child spans of their own, in
the ``read.infer`` and ``share.checkpoint`` layers.

A layer's self time is the time its spans cover minus the part their
child spans cover. The ``bench`` layer holds the benchmark's own glue, so
the self times of all layers add up to the traced pass's wall time.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import statistics
import threading
import time
import urllib.request
from dataclasses import dataclass, field

READ_APIS = ("parquet at ", "json at ", "csv at ", "orc at ", "load at ", "text at ", "table at ")
CHECKPOINT_APIS = ("localCheckpoint at ", "checkpoint at ")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records spans; with ``enabled`` false it only times them, so the
    untimed bookkeeping is the same in both modes and no job group is set."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: dict[int, Span] = {}
        self.group_alias: dict[str, int] = {}
        self.jobs: list[dict] = []
        self._stack: list[int] = []

    def _add(self, parent, name, layer, start, end=0.0) -> Span:
        s = Span(len(self.spans), parent, name, layer, start, end)
        self.spans[s.id] = s
        if parent is not None:
            self.spans[parent].children.append(s.id)
        return s

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self._add(self._stack[-1] if self._stack else None, name, layer, time.time())
        self._stack.append(s.id)
        if self.enabled:
            self.sc.setJobGroup(f"span-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                if self._stack:
                    self.sc.setJobGroup(f"span-{self._stack[-1]}", self.spans[self._stack[-1]].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def child(self, parent: Span, name: str, layer: str, start: float, end: float) -> Span:
        """Add a span measured elsewhere (a job, a micro-batch phase)."""
        return self._add(parent.id, name, layer, start, end)

    def self_times(self, root: Span) -> dict[str, float]:
        """Self time per layer over the subtree of ``root``."""
        out: dict[str, float] = {}

        def walk(s: Span):
            covered, lo = 0.0, s.start
            for c in sorted((self.spans[i] for i in s.children), key=lambda c: c.start):
                a, b = max(c.start, lo), min(c.end, s.end)
                if b > a:
                    covered += b - a
                    lo = b
                walk(c)
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, s.end - s.start - covered)

        walk(root)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [s.__dict__ for s in self.spans.values()], "jobs": self.jobs}, fh)


def epoch(ts: str | None) -> float:
    """Seconds since the epoch of a UTC time as the status store
    (``...:00.123GMT``) or a stream progress report (``...:00.123Z``)
    writes it."""
    if not ts:
        return 0.0
    d = dt.datetime.strptime(ts.rstrip("Z").replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=dt.timezone.utc).timestamp()


class StatusStore:
    """Spark's application status store, read through the UI REST API."""

    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        self.drain()
        return self.get("/jobs")

    def stages(self) -> dict[int, dict]:
        return {s["stageId"]: s for s in self.get("/stages") if s["status"] == "COMPLETE"}

    def task_run_ms(self, stage: dict) -> list[float]:
        tasks = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskList?length={stage['numTasks']}"
        )
        return [t.get("taskMetrics", {}).get("executorRunTime", 0) for t in tasks]


class Poller:
    """Calls ``poll`` every ``period_s`` on a thread while in a ``with``."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def poll(self) -> None:
        raise NotImplementedError

    def _run(self):
        while not self._stop.is_set():
            self.poll()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=30)


class StorageSampler(Poller):
    """Which RDDs were ever cached while a traced pass ran, and the peak
    bytes they held."""

    def __init__(self, store: StatusStore):
        super().__init__()
        self.store = store
        self.rdds: set[int] = set()
        self.peak_bytes = 0

    def poll(self) -> None:
        try:
            rdds = self.store.get("/storage/rdd")
        except OSError:
            return
        self.rdds.update(r["id"] for r in rdds)
        self.peak_bytes = max(
            self.peak_bytes, sum(r["memoryUsed"] + r["diskUsed"] for r in rdds)
        )


def attribute_jobs(tracer: Tracer, store: StatusStore, root: Span) -> dict[str, float]:
    """Attribute every job of the pass to its span and sum the per-layer
    job and stage counters. Build-phase read and checkpoint jobs become
    child spans, so their time leaves the build layer's self time."""
    spans_in = set()

    def collect(s: Span):
        spans_in.add(s.id)
        for c in s.children:
            collect(tracer.spans[c])

    collect(root)
    jobs = store.jobs()
    stages = store.stages()
    m = {k: 0.0 for k in (
        "plans.build_jobs", "read.infer_jobs", "share.checkpoint_jobs",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
        "exec.gc_s", "exec.input_bytes", "exec.shuffle_read_bytes",
        "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.max_task_over_median")}
    for job in jobs:
        group = job.get("jobGroup") or ""
        sid = tracer.group_alias.get(group)
        if sid is None and group.startswith("span-"):
            sid = int(group[5:])
        if sid is None or sid not in spans_in:
            continue
        span = tracer.spans[sid]
        name = job["name"]
        start, end = epoch(job.get("submissionTime")), epoch(job.get("completionTime"))
        tracer.jobs.append({"id": job["jobId"], "span": sid, "name": name,
                            "start": start, "end": end, "stages": job["stageIds"]})
        if span.layer == "plans.build":
            m["plans.build_jobs"] += 1
            if name.startswith(READ_APIS):
                m["read.infer_jobs"] += 1
                tracer.child(span, name, "read.infer", start, end)
            elif name.startswith(CHECKPOINT_APIS):
                m["share.checkpoint_jobs"] += 1
                tracer.child(span, name, "share.checkpoint", start, end)
            continue
        if name.startswith(CHECKPOINT_APIS):
            m["share.checkpoint_jobs"] += 1
            tracer.child(span, name, "share.checkpoint", start, end)
        m["exec.jobs"] += 1
        runs: list[float] = []
        for st_id in job["stageIds"]:
            st = stages.get(st_id)
            if st is None:  # skipped: its output was reused
                continue
            m["exec.stages"] += 1
            m["exec.tasks"] += st["numCompleteTasks"]
            m["exec.task_run_s"] += st["executorRunTime"] / 1e3
            m["exec.task_cpu_s"] += st["executorCpuTime"] / 1e9
            m["exec.gc_s"] += st["jvmGcTime"] / 1e3
            m["exec.input_bytes"] += st["inputBytes"]
            m["exec.shuffle_read_bytes"] += st["shuffleReadBytes"]
            m["exec.shuffle_write_bytes"] += st["shuffleWriteBytes"]
            m["exec.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            runs += store.task_run_ms(st)
        if len(runs) >= 2:
            ratio = max(runs) / max(statistics.median(runs), 1.0)
            m["exec.max_task_over_median"] = max(m["exec.max_task_over_median"], ratio)
    return m


PROBE_LOOPS = 20_000


def speed_probe() -> float:
    """CPU seconds this thread spends on a fixed pure-Python loop, about
    2 ms: how fast the host runs code right now. It shares no code with
    the engine, so no change to the engine moves it; a shared host's
    speed does, by 15% from one second to the next on 4 vCPUs."""
    t0 = time.thread_time()
    x = 0
    for i in range(PROBE_LOOPS):
        x = (x * 31 + i) % 1_000_003
    return time.thread_time() - t0


class ProcSampler(Poller):
    """Memory and CPU of the benchmark's own process, the driver JVM and
    every process below the JVM (the Python workers).

    ``peak_bytes`` is the peak of their summed resident memory: the JVM's
    RSS, and the proportional set size of the others, so pages a forked
    worker shares with its parent count once. The JVM's PSS is not read:
    with its pre-touched heap one read costs ~50 ms of kernel time.

    ``cpu_s()`` is the user plus system CPU time used so far, read when it
    is called. Each process counts with its reaped children, so a worker
    that exits between two reads still counts, and the sampler's own
    thread does not count.

    Each poll also times ``speed_probe``, so ``probe_s(t0, t1)`` tells how
    fast the host ran between two ``time.perf_counter()`` readings."""

    def __init__(self, jvm_pid: int):
        super().__init__()
        self.jvm_pid = jvm_pid
        self.peak_bytes = 0
        self._hz = os.sysconf("SC_CLK_TCK")
        self._own_cpu_s = 0.0
        self._probes: list[tuple[float, float]] = []

    def _tree(self) -> dict[int, list[str]]:
        """The /proc/<pid>/stat fields of each process of interest."""
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        stats[int(d)] = fh.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
        tree, frontier = [self.jvm_pid, os.getpid()], [self.jvm_pid]
        while frontier:
            frontier = [p for p, f in stats.items() if int(f[1]) in frontier]
            tree += frontier
        return {p: stats[p] for p in tree if p in stats}

    def poll(self) -> None:
        t0 = time.thread_time()
        total = 0
        for pid in self._tree():
            field, path = ("VmRSS:", "status") if pid == self.jvm_pid else ("Pss:", "smaps_rollup")
            try:
                with open(f"/proc/{pid}/{path}") as fh:
                    for line in fh:
                        if line.startswith(field):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        self._probes.append((time.perf_counter(), speed_probe()))
        self._own_cpu_s += time.thread_time() - t0

    def probe_s(self, t0: float, t1: float) -> float:
        """Median ``speed_probe`` time of the polls between t0 and t1."""
        probes = [p for t, p in self._probes if t0 <= t <= t1] or [speed_probe()]
        return statistics.median(probes)

    def cpu_s(self) -> float:
        own = os.getpid()
        ticks = sum(
            # utime + stime, plus cutime + cstime of reaped children; the
            # benchmark's own children are the JVMs, counted on their own
            int(f[11]) + int(f[12]) + (0 if pid == own else int(f[13]) + int(f[14]))
            for pid, f in self._tree().items()
        )
        return ticks / self._hz - self._own_cpu_s
