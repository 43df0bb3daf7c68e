"""Per-job-group metrics from a Spark event log.

Spark writes one JSON event per line when ``spark.eventLog.enabled`` is set
(uncompressed, not rolling). The benchmark gives every job it runs its own
job group (``spark.jobGroup.id``), so each Spark job, its stages and their
tasks can be charged to one benchmark job: warm-up, timed and check jobs
never mix.

``parse`` returns a ``GroupStats`` per job group: task-metric and SQL-metric
sums plus the task busy intervals. ``breakdown`` splits a benchmark job's
wall time (its span, measured by the caller) into layers that sum to it
exactly: the wall time with no task running is ``driver_gap``; the busy wall
time is shared among scan, python, shuffle, gc and the ``task_other``
residual in proportion to their share of summed task run time.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# SQL metric names (as Spark labels them) -> GroupStats field. "timing"
# metrics are milliseconds, "size" metrics bytes.
_SQL_MS = {
    "scan time": "scan_ms",
    "time to run Python workers": "python_run_ms",
    "time to initialize Python workers": "python_init_ms",
}
_SQL_BYTES = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}

LAYERS = ("driver_gap", "scan", "python", "shuffle", "gc", "task_other")


@dataclass
class GroupStats:
    spark_jobs: int = 0
    tasks: int = 0
    task_run_ms: float = 0.0
    task_cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes_written: float = 0.0
    shuffle_write_ns: float = 0.0
    shuffle_fetch_wait_ms: float = 0.0
    spill_bytes: float = 0.0
    bytes_read: float = 0.0
    scan_ms: float = 0.0
    python_run_ms: float = 0.0
    python_init_ms: float = 0.0
    python_bytes_sent: float = 0.0
    python_bytes_returned: float = 0.0
    intervals: list[tuple[int, int]] = field(default_factory=list)


def parse(lines) -> dict[str, GroupStats]:
    """Aggregate an event log (an iterable of JSON lines) by job group.

    Jobs without a group are filed under ``""``. A stage is charged to the
    first job that lists it; later jobs that list it again skip it."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups.setdefault(g, GroupStats()).spark_jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"), "")
            s = groups.setdefault(g, GroupStats())
            _add_task(s, ev)
    return groups


def _add_task(s: GroupStats, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    s.tasks += 1
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    if finish >= launch > 0:
        s.intervals.append((launch, finish))
    s.task_run_ms += m.get("Executor Run Time", 0)
    s.task_cpu_ns += m.get("Executor CPU Time", 0)
    s.gc_ms += m.get("JVM GC Time", 0)
    s.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    s.shuffle_bytes_written += sw.get("Shuffle Bytes Written", 0)
    s.shuffle_write_ns += sw.get("Shuffle Write Time", 0)
    s.shuffle_fetch_wait_ms += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
    s.bytes_read += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for acc in info.get("Accumulables", ()):
        name = acc.get("Name")
        attr = _SQL_MS.get(name) or _SQL_BYTES.get(name)
        if attr is not None:
            setattr(s, attr, getattr(s, attr) + float(acc.get("Update") or 0))


def busy_ms(intervals: list[tuple[int, int]], start_ms: float, end_ms: float) -> float:
    """Wall milliseconds in [start_ms, end_ms] covered by at least one interval."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, start_ms), min(b, end_ms)
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def breakdown(s: GroupStats, start_ms: float, end_ms: float) -> dict[str, float]:
    """Split one job's wall window into ``LAYERS`` seconds that sum to it.

    Busy wall time is divided in proportion to summed task time per layer;
    ``task_other`` is the named residual of task run time not attributed
    to scan, Arrow Python workers, shuffle or GC: JVM compute, and the
    Python of RDD functions, which Spark does not time separately."""
    wall = max(0.0, end_ms - start_ms)
    busy = min(wall, busy_ms(s.intervals, start_ms, end_ms))
    parts = {
        "scan": s.scan_ms,
        "python": s.python_run_ms,
        "shuffle": s.shuffle_fetch_wait_ms + s.shuffle_write_ns / 1e6,
        "gc": s.gc_ms,
    }
    run = max(s.task_run_ms, sum(parts.values()))
    out = {"driver_gap": (wall - busy) / 1e3}
    for k, v in parts.items():
        out[k] = busy * v / run / 1e3 if run else 0.0
    out["task_other"] = wall / 1e3 - sum(out.values())
    return out
