"""Layer tracing for the benchmark's traced run.

Spans: ``Tracer`` swaps module attributes (``codem_spark.registration.
pipeline.preprocess`` and so on) for wrappers that record the wall-clock
interval of each call, and optionally counters read from its return value.
The program calls these attributes through their modules, so the wrappers
see every call without any change to the program.

Spark jobs: after each op, ``spark_jobs`` reads the jobs and stages the op
started from the JVM status store (it works with the UI off). A job belongs
to the innermost span whose interval contains its submission time, or to
``unattributed``. Time, not job group, decides this, because jobs submitted
from the program's driver thread pools do not inherit the caller's job
group. Spark is lazy: a span owns the jobs its body forces, so a writer span
is charged with the product compute it forces.

``RssSampler`` records the peak summed RSS of this process and all of its
descendants (the JVM and the Python workers).
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float


@dataclass
class Target:
    span: str
    module: Any
    attr: str
    counters: Callable[[Any], dict[str, float]] | None = None


@dataclass
class Tracer:
    targets: list[Target]
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _saved: list[tuple[Any, str, Any]] = field(default_factory=list)

    def __enter__(self) -> "Tracer":
        for t in self.targets:
            orig = getattr(t.module, t.attr)
            self._saved.append((t.module, t.attr, orig))
            setattr(t.module, t.attr, self._wrap(t, orig))
        return self

    def __exit__(self, *exc) -> None:
        for module, attr, orig in reversed(self._saved):
            setattr(module, attr, orig)
        self._saved.clear()

    def reset(self) -> None:
        self.spans.clear()
        self.counts.clear()

    def _wrap(self, t: Target, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            start = time.time()
            try:
                out = fn(*args, **kwargs)
            finally:
                self.spans.append(Span(t.span, start, time.time()))
            if t.counters is not None:
                for k, v in t.counters(out).items():
                    self.counts[k] = self.counts.get(k, 0.0) + float(v)
            return out

        return traced

    def seconds(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def owner(self, t_ms: int) -> str:
        """Innermost span containing the epoch-millisecond time ``t_ms``."""
        inside = [s for s in self.spans
                  if int(s.start * 1000) <= t_ms <= int(s.end * 1000) + 1]
        return max(inside, key=lambda s: s.start).name if inside else "unattributed"


@dataclass
class Job:
    job_id: int
    submitted_ms: int
    completed_ms: int
    stage_ids: list[int]


def last_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def spark_jobs(spark, after_job_id: int) -> tuple[list[Job], dict[str, float]]:
    """Jobs with id > ``after_job_id`` and the summed metrics of their
    stages, keyed by metric name (each stage counted once; skipped stages
    add nothing)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    jobs = []
    for j in as_java(store.jobsList(None)):  # newest first
        if j.jobId() <= after_job_id:
            break
        sub = j.submissionTime()
        end = j.completionTime()
        jobs.append(Job(
            j.jobId(),
            sub.get().getTime() if sub.isDefined() else 0,
            end.get().getTime() if end.isDefined() else int(time.time() * 1000),
            list(as_java(j.stageIds())),
        ))
    tasks = run_s = cpu_s = gc_s = shuffle_write = output = 0.0
    for sid in sorted({s for j in jobs for s in j.stage_ids}):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # evicted from the store or never submitted
            continue
        tasks += st.numCompleteTasks()
        run_s += st.executorRunTime() / 1e3
        cpu_s += st.executorCpuTime() / 1e9
        gc_s += st.jvmGcTime() / 1e3
        shuffle_write += st.shuffleWriteBytes()
        output += st.outputBytes()
    return jobs, {
        "spark.tasks": tasks, "spark.exec_cpu_s": cpu_s,
        # executor run time not spent on JVM CPU: mostly waiting on Python workers
        "spark.python_wait_s": run_s - cpu_s, "spark.gc_s": gc_s,
        "spark.shuffle_write_mb": shuffle_write / 2**20, "spark.output_mb": output / 2**20,
    }


def busy_seconds(jobs: list[Job], start: float, end: float) -> float:
    """Length of the union of the jobs' run intervals within [start, end]."""
    iv = sorted((max(j.submitted_ms / 1e3, start), min(j.completed_ms / 1e3, end)) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tree_usage(root: int | None = None) -> tuple[int, float]:
    """Summed RSS bytes and CPU seconds (user + system, reaped children
    included) of process ``root`` (default: this one) and all of its
    descendants, from one pass over /proc."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    usage: dict[int, tuple[int, int]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # exited during the scan
        children.setdefault(int(f[1]), []).append(int(name))
        usage[int(name)] = (int(f[21]) * page, sum(int(v) for v in f[11:15]))
    rss = ticks = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        r, t = usage.get(pid, (0, 0))
        rss += r
        ticks += t
        todo.extend(children.get(pid, ()))
    return rss, ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_usage()[0])
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
