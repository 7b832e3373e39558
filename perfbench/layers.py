"""Measurement taken from outside the engine.

Three sources, none of which needs an engine change:

- ``/proc``: CPU time of the driver Python process, the JVM and the
  ``pyspark.daemon`` worker tree, high-water RSS, the host's steal counter;
- Spark's status store, read through the driver's JVM after each timed
  window: jobs by job-id range (streaming micro-batch jobs escape the
  caller's job group, an id range does not), their stages and stage metrics;
- a ``StreamingQueryListener`` for per-trigger progress.

``Tracer`` keeps spans in memory (run → pass → op → build/action → Spark job →
stage, plus untimed checks) and per-op counters, and writes them out once at
the end of the run.
"""

from __future__ import annotations

import os
import re
import statistics
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def proc_cpu_s(pid: int | str, children: bool = False) -> float:
    """utime+stime (plus reaped children's cutime+cstime) in seconds."""
    try:
        f = _stat_fields(pid)
    except OSError:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def _ppid(pid: str) -> int:
    try:
        return int(_stat_fields(pid)[1])
    except (OSError, IndexError, ValueError):
        return -1


def _cmdline(pid: int | str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def hwm_mb(pid: int | str) -> float:
    """``VmHWM`` (peak resident set) of a process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_pid(gateway_proc) -> int:
    """The driver JVM: the gateway process itself once spark-submit has
    exec'd into java, otherwise its java descendant."""
    pid = gateway_proc.pid
    if "java" in _cmdline(pid).split(" ")[0]:
        return pid
    for p in os.listdir("/proc"):
        if p.isdigit() and _ppid(p) == pid and "java" in _cmdline(p):
            return int(p)
    return pid


def python_worker_cpu_s(jvm: int) -> float:
    """CPU of the ``pyspark.daemon`` tree under the JVM: the daemons, their
    reaped workers (cutime) and the workers still alive."""
    pids = [p for p in os.listdir("/proc") if p.isdigit()]
    daemons = {p for p in pids if _ppid(p) == jvm and "pyspark.daemon" in _cmdline(p)}
    total = sum(proc_cpu_s(d, children=True) for d in daemons)
    total += sum(proc_cpu_s(p) for p in pids if str(_ppid(p)) in daemons)
    return total


def host_cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def calib_ms(iters: int = 2_000_000) -> float:
    """A fixed single-thread spin: a host-speed label, never a gate."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i
    assert x
    return (time.perf_counter() - t0) * 1000


# ---------------------------------------------------------------------------
# Spark status store and streaming progress
# ---------------------------------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000 if opt.isDefined() else None


STAGE_FIELDS = {
    # metric name -> (StageData getter, scale to the metric's unit)
    "tasks": ("numCompleteTasks", 1),
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "deserialize_s": ("executorDeserializeTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "input_rows": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_s": ("shuffleWriteTime", 1e-9),
    "shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spill_bytes": ("diskBytesSpilled", 1),
}


class StatusStore:
    """Jobs and stages from the driver's status store, by job-id range."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self.next_job = 0
        self.new_jobs()  # skip the jobs run before tracing started

    def drain(self) -> None:
        """Wait until every posted event (job/stage ends, streaming
        progress) has reached the status store and the listeners."""
        self._bus.waitUntilEmpty()

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Py4JJavaError:  # NoSuchElementException: no such job (yet)
            return None

    def new_jobs(self) -> list[dict]:
        """Every job submitted since the previous call, with its stages."""
        self.drain()
        jobs, j = [], self.next_job
        while (job := self._job(j)) is not None:
            stage_ids = job.stageIds()
            jobs.append(
                {
                    "id": j,
                    "start": _opt_ms(job.submissionTime()),
                    "end": _opt_ms(job.completionTime()),
                    "stages": [stage_ids.apply(i) for i in range(stage_ids.length())],
                    "skipped": job.numSkippedStages(),
                }
            )
            j += 1
        self.next_job = j
        return jobs

    def stage(self, stage_id: int) -> dict | None:
        try:
            sd = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # NoSuchElementException: never attempted (skipped)
            return None
        if sd.status().toString() != "COMPLETE":
            return None
        rec = {k: getattr(sd, g)() * scale for k, (g, scale) in STAGE_FIELDS.items()}
        rec["start"] = _opt_ms(sd.submissionTime())
        rec["end"] = _opt_ms(sd.completionTime())
        return rec


def make_progress_listener(sink: list):
    """A ``StreamingQueryListener`` appending one dict per trigger to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            states = list(p.stateOperators or [])
            sink.append(
                {
                    "run_id": str(p.runId),
                    "duration_ms": dict(p.durationMs or {}),
                    "input_rows": int(p.numInputRows or 0),
                    "state_rows": sum(int(s.numRowsTotal or 0) for s in states),
                    "state_memory_bytes": sum(int(s.memoryUsedBytes or 0) for s in states),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def plan_counts(formatted: str) -> dict[str, int]:
    """File scans, shuffle exchanges and reused exchanges in the operator
    tree of an EXPLAIN FORMATTED plan. Once an adaptive plan has run, only
    its final plan is counted."""
    tree = formatted.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return {
        "file_scans": len(re.findall(r"\bScan (?:parquet|orc|csv|json|text)\b", tree)),
        "exchanges": len(re.findall(r"(?<![A-Za-z])Exchange \(", tree)),
        "reused_exchanges": len(re.findall(r"\bReusedExchange \(", tree)),
    }


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


def union_s(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> None:
    """Set each span's ``self_s``: its duration minus the part of its
    interval that its children cover."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    for s in spans:
        covered = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids[s["id"]]
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        s["self_s"] = (s["end"] - s["start"]) - union_s(covered)


class Tracer:
    """In-memory spans; epoch-second timestamps so Python spans and the
    status store's job/stage times share one clock."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, kind: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "kind": kind,
             "start": start, "end": end, **attrs}
        )
        return sid

    def finish(self) -> list[dict]:
        """Close the root span at the latest end and compute self times."""
        if self.spans:
            self.spans[0]["end"] = max(s["end"] for s in self.spans)
        self_times(self.spans)
        return self.spans


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
