"""Benchmark driver: one workload, one seed, one process at local[nproc].

    python3 perfbench/run.py --workload corpus_curation --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench_work/``, starts the engine's own session
(``session.get_spark``), discards the workload's warm-up jobs, times whole
passes for about ``--seconds`` seconds, checks every output, and prints each
metric with its unit. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (tracing off). ``--trace 1``
runs the workload twice, each time in a fresh JVM: untraced, then with
Spark's event log on, one job group per job and spans around the calls into
the program; it reports the per-layer metrics and the tracing overhead
(traced minus untraced ``pass_s``).

Output checks run outside the timed window. On a query workload the first
warm-up pass, and one more pass after the timed passes, collect every result
and compare it with the query's DuckDB oracle on the same files,
canonicalized as in ``tests/compare.py``; a query that fails either check
fails all of its timed jobs. Every ingest invocation is checked at the
loopback receiver. A job that raises or fails its check counts in
``failed``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM = ROOT / "etl_drone_sense_spark"

# Spans the benchmark opens around its calls into the program -> metric.
_SPAN_METRIC = {
    "readers.fetch": "readers.fetch_s",
    "feature_transform.build": "feature_transform.build_s",
    "sinks.post": "sinks.post_s",
    "plans.build": "plans.build_s",
    "plans.execute": "plans.execute_s",
    "caching.release": "caching.release_s",
}

# Per-layer metrics are per timed pass of the traced phase (means over its
# passes), except ratios. Task-time sums (from task and SQL metrics) add up
# across concurrently running tasks; ``wall.*`` and ``session.driver_gap_s``
# split the pass's wall time and sum to it. ``query.<name>_s`` are added for
# every registry query a workload runs.
LAYER_METRICS = (
    "readers.fetch_s", "readers.records_in", "feature_transform.build_s",
    "sinks.post_s", "sinks.batches", "sinks.bytes_posted", "sinks.delivered_ratio",
    "sinks.post_failed", "plans.build_s", "plans.execute_s", "caching.release_s",
    "readers.scan_s", "readers.bytes_read", "operators.python_run_s",
    "operators.python_init_s", "operators.python_bytes_sent",
    "operators.python_bytes_returned", "session.spark_jobs", "session.tasks",
    "session.driver_gap_s", "session.task_run_s", "session.task_cpu_s", "session.gc_s",
    "session.shuffle_bytes_written", "session.shuffle_fetch_wait_s", "session.spill_bytes",
    "wall.scan_s", "wall.python_s", "wall.shuffle_s", "wall.gc_s", "wall.task_other_s",
    "trace.overhead_s",
)


def load_spec() -> dict:
    """BENCHMARK.json names the metrics each mode prints, with their units."""
    return json.loads((ROOT / "BENCHMARK.json").read_text())


@dataclass
class Phase:
    """One session's run of a workload: warm-up, timed passes, checks."""

    session_s: float = 0.0
    warmup: list = field(default_factory=list)
    passes: list = field(default_factory=list)  # list of lists of JobResult
    checks: dict = field(default_factory=dict)  # query -> problems, when it differs
    peak_rss_mb: float = 0.0
    heap_mb: float = 0.0  # in use after a full GC at the end of timing
    nonheap_mb: float = 0.0
    master: str = ""
    groups: dict = field(default_factory=dict)  # job group -> eventlog.GroupStats
    spans: list = field(default_factory=list)

    @property
    def pass_walls(self) -> list[float]:
        return [sum(j.wall_s for j in p) for p in self.passes]

    @property
    def timed_jobs(self) -> list:
        return [j for p in self.passes for j in p]


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class RssSampler:
    """Highest RSS of one process, sampled every 50 ms while active."""

    def __init__(self, pid: int):
        self._path = f"/proc/{pid}/status"
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_mb = 0.0

    def _run(self) -> None:
        while not self._stop.is_set():
            with open(self._path) as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        self.peak_mb = max(self.peak_mb, int(line.split()[1]) / 1024.0)
            self._stop.wait(0.05)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.parent.name))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def _stop_jvm() -> None:
    """End the JVM that PySpark launched (it exits when its stdin closes) and
    wait until it and its Python workers are gone, so that the next phase
    starts a cold JVM of its own."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    workers = _descendants(proc.pid)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while workers and time.monotonic() < deadline:
        workers = {p for p in workers if Path(f"/proc/{p}").exists()}
        time.sleep(0.05)


def _retained_mb(jvm) -> tuple[float, float]:
    """(heap, non-heap) MB the JVM keeps in use after the Python driver drops
    its references and the JVM runs a full GC. The pause lets Spark's
    cleaner release the shuffles and broadcasts of collected plans before
    the second GC. Without these steps the reading's spread (IQR over
    median) across corpus_curation runs was 0.28; with them it is 0.005."""
    gc.collect()
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap, nonheap = mem.getHeapMemoryUsage().getUsed(), mem.getNonHeapMemoryUsage().getUsed()
    return heap / 2**20, nonheap / 2**20


def _source_sha256() -> str:
    h = hashlib.sha256()
    for p in sorted(PROGRAM.rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _commit() -> str | None:
    if not (ROOT / ".git").exists():  # a plain checkout: the source hash identifies it
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def environment_stamp() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpus_usable": _cpus(),
        "loadavg_start": _loadavg(),
        "cpu_ticks_start": _cpu_ticks(),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "commit": _commit(),
        "source_sha256": _source_sha256(),
    }


def _spark_conf(work: Path, traced: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _check_rows(duck, name: str, rows) -> str:
    from etl_drone_sense_spark.plans.registry import get
    from tests.compare import assert_frames_match

    try:
        assert_frames_match(rows, duck.execute(get(name).oracle).fetchdf(), name)
    except AssertionError as exc:
        return str(exc)[:500]
    return ""


def run_phase(w, seed: int, seconds: int, traced: bool, work: Path, data_dir: str,
              receiver, duck) -> Phase:
    import numpy as np

    from etl_drone_sense_spark.session import get_spark
    from workloads import FLEET_SIZES, Tracer, ingest_pass, run_ingest, run_query

    ph = Phase()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{w.name}",
        master=f"local[{_cpus()}]",
        extra_conf=_spark_conf(work, traced),
    )
    spark.sparkContext.setLogLevel("ERROR")
    ph.session_s = time.perf_counter() - t0
    ph.master = spark.sparkContext.master
    tracer = Tracer(spark, traced)
    rng = np.random.default_rng([seed, 7])  # payloads: the same in both phases

    def one_pass(tag: str, check: bool, sizes=None) -> list:
        jobs = []
        if not w.queries:
            for k, (payload, golden) in enumerate(ingest_pass(rng, f"{seed}-{tag}", sizes)):
                jobs.append(run_ingest(spark, tracer, receiver, payload, golden, f"{tag}/{k}"))
            return jobs
        for k, q in enumerate(w.queries):
            job, rows = run_query(spark, tracer, q, data_dir, f"{tag}/{k}:{q}", collect=check)
            jobs.append(job)
            if check:
                problem = job.error or _check_rows(duck, q, rows)
                if problem:
                    ph.checks.setdefault(q, []).append(f"{tag}: {problem}")
        return jobs

    try:
        jvm = spark.sparkContext._jvm
        for p in range(w.warmup_passes):
            ph.warmup += one_pass(f"warmup/{p}", check=(p == 0))
            if p == 0:
                # A full collection after the first pass lets G1 size the heap
                # to what is live; the rest of the warm-up then regrows it the
                # same way on every run, instead of keeping whatever size the
                # first pass's bursts (result collection, first compiles)
                # happened to leave. Measured on corpus_curation: pass_s
                # followed the chance heap size, 8.0 s at 3.5 GB, 9.8 s at 2.2 GB.
                jvm.java.lang.System.gc()
        if w.warmup_jobs:
            small = (FLEET_SIZES[0],) * w.warmup_jobs
            ph.warmup += one_pass("warmup/jobs", check=False, sizes=small)
        with RssSampler(jvm.java.lang.ProcessHandle.current().pid()) as rss:
            for p in range(w.timed_passes(seconds)):
                ph.passes.append(one_pass(f"timed/{p}", check=False))
        ph.peak_rss_mb = rss.peak_mb
        ph.heap_mb, ph.nonheap_mb = _retained_mb(jvm)
        if w.queries:
            # The timed passes run after caches were persisted and released
            # many times over; check their state once more, untimed.
            one_pass("check", check=True)
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()  # also completes the event log
        _stop_jvm()
    ph.spans = tracer.spans
    if traced:
        import eventlog

        with open(work / "eventlog" / app_id) as f:
            ph.groups = eventlog.parse(f)
    return ph


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest nearest-rank percentile with at
    least ten samples above it; the maximum when there are ten or fewer."""
    s = sorted(samples)
    k = len(s) - 10 if len(s) > 10 else len(s)
    return s[k - 1], 100.0 * k / len(s), len(s)


def end_to_end(w, ph: Phase) -> tuple[dict, dict]:
    jobs = ph.timed_jobs
    walls = [j.wall_s for j in jobs]
    tail_v, tail_pct, n = tail(walls)
    if w.queries:
        verified = sum(1 for j in jobs if j.ok and not ph.checks.get(j.query))
    else:
        verified = sum(j.outputs for j in jobs)
    values = {
        "setup_s": ph.session_s + sum(j.wall_s for j in ph.warmup),
        "pass_s": statistics.median(ph.pass_walls),
        "job_p50_s": statistics.median(walls),
        "job_tail_s": tail_v,
        "features_per_s": verified / sum(ph.pass_walls),
        "retained_mb": ph.heap_mb + ph.nonheap_mb,
    }
    extra = {
        "peak_rss_mb": ph.peak_rss_mb,
        "retained_heap_mb": ph.heap_mb,
        "job_tail_percentile": tail_pct,
        "jobs": n,
        "passes": len(ph.passes),
        "pass_walls": ph.pass_walls,
    }
    return values, extra


def per_layer(traced: Phase, untraced: Phase, queries) -> tuple[dict, list]:
    """Per-layer metrics of the traced phase, and the per-job wall split."""
    import eventlog

    passes = len(traced.passes)
    jobs = traced.timed_jobs
    timed = {j.group for j in jobs}
    vals = dict.fromkeys(LAYER_METRICS, 0.0)
    vals.update(dict.fromkeys((f"query.{q}_s" for q in queries), 0.0))
    for name, group, t0, t1 in traced.spans:
        if group in timed and name in _SPAN_METRIC:
            vals[_SPAN_METRIC[name]] += (t1 - t0) / passes

    sent = sum(j.sent for j in jobs)
    vals["readers.records_in"] = sum(j.records for j in jobs) / passes
    vals["sinks.batches"] = sum(j.batches for j in jobs) / passes
    vals["sinks.bytes_posted"] = sum(j.bytes_posted for j in jobs) / passes
    vals["sinks.delivered_ratio"] = sum(j.outputs for j in jobs) / sent if sent else 0.0
    vals["sinks.post_failed"] = sum(j.post_failed for j in jobs) / passes

    rows = []
    for j in jobs:
        if j.query != "handler":
            vals[f"query.{j.query}_s"] += j.wall_s / passes
        g = traced.groups.get(j.group, eventlog.GroupStats())
        split = eventlog.breakdown(g, j.start * 1e3, j.end * 1e3)
        rows.append({"group": j.group, "wall_s": j.wall_s, **split})
        sums = {
            "session.driver_gap_s": split["driver_gap"],
            "wall.scan_s": split["scan"],
            "wall.python_s": split["python"],
            "wall.shuffle_s": split["shuffle"],
            "wall.gc_s": split["gc"],
            "wall.task_other_s": split["task_other"],
            "session.spark_jobs": g.spark_jobs,
            "session.tasks": g.tasks,
            "session.task_run_s": g.task_run_ms / 1e3,
            "session.task_cpu_s": g.task_cpu_ns / 1e9,
            "session.gc_s": g.gc_ms / 1e3,
            "session.shuffle_bytes_written": g.shuffle_bytes_written,
            "session.shuffle_fetch_wait_s": g.shuffle_fetch_wait_ms / 1e3,
            "session.spill_bytes": g.spill_bytes,
            "readers.scan_s": g.scan_ms / 1e3,
            "readers.bytes_read": g.bytes_read,
            "operators.python_run_s": g.python_run_ms / 1e3,
            "operators.python_init_s": g.python_init_ms / 1e3,
            "operators.python_bytes_sent": g.python_bytes_sent,
            "operators.python_bytes_returned": g.python_bytes_returned,
        }
        for k, v in sums.items():
            vals[k] += v / passes
    vals["trace.overhead_s"] = statistics.median(traced.pass_walls) - statistics.median(
        untraced.pass_walls
    )
    return vals, rows


def main(argv=None) -> int:
    if not (PROGRAM / "__init__.py").is_file() or not (ROOT / "tests" / "compare.py").is_file():
        _fail(f"program sources not found under {ROOT}; run from a checkout of the repository")
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    spec = load_spec()

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    w = WORKLOADS[args.workload]
    seed = args.seed % 2**64  # numpy seeds must be non-negative

    work = ROOT / ".perfbench_work" / f"{w.name}-{args.seed}-{os.getpid()}"
    for sub in ("tmp", "local", "data"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # Python workers import the program from the checkout; temp files and
    # Spark's scratch space stay inside it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")

    import duckdb

    from datagen import write_tables
    from receiver import LAYER, Receiver

    stamp = environment_stamp()
    print(f"perfbench {w.name} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"why: {w.why}")
    data_dir = str(work / "data")
    duck = duckdb.connect()
    try:
        t0 = time.perf_counter()
        if w.queries:
            write_tables(seed, w.sf, data_dir)
            from etl_drone_sense_spark.schemas import TABLE_NAMES

            for t in TABLE_NAMES:
                duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        stamp["datagen_s"] = time.perf_counter() - t0
        with Receiver() as receiver:
            os.environ["ETL_API"], os.environ["ETL_LAYER"] = receiver.api, LAYER
            phases = [run_phase(w, seed, args.seconds, False, work, data_dir, receiver, duck)]
            if args.trace:
                phases.append(
                    run_phase(w, seed, args.seconds, True, work, data_dir, receiver, duck)
                )
    finally:
        duck.close()
        shutil.rmtree(work, ignore_errors=True)
    stamp["loadavg_end"] = _loadavg()
    steal, total = (b - a for a, b in zip(stamp.pop("cpu_ticks_start"), _cpu_ticks()))
    stamp["cpu_steal_pct"] = 100.0 * steal / total if total else 0.0
    stamp["master"] = phases[0].master

    base = phases[0]
    values, extra = end_to_end(w, base)
    attempted = sum(len(ph.timed_jobs) for ph in phases)
    failed = 0
    for ph in phases:
        for j in ph.timed_jobs:
            failed += (not j.ok) or bool(ph.checks.get(j.query))
    problems = sorted(
        {f"{j.group}: {j.error}" for ph in phases for j in ph.warmup + ph.timed_jobs if not j.ok}
        | {f"check {q}: {'; '.join(msgs)}" for ph in phases for q, msgs in ph.checks.items()}
    )
    print("env: " + json.dumps(stamp, sort_keys=True))

    report = {
        "workload": w.name,
        "seed": args.seed,
        "env": stamp,
        "problems": problems,
        "job_walls": {
            j.group: round(j.wall_s, 4) for ph in phases for j in ph.warmup + ph.timed_jobs
        },
        "job_records": {
            j.group: j.records for ph in phases for j in ph.warmup + ph.timed_jobs if j.records
        },
        "end_to_end": values,
    }
    if args.trace:
        queries = sorted({q for x in WORKLOADS.values() for q in x.queries})
        values, report["jobs"] = per_layer(phases[1], base, queries)
        report["per_layer"] = values
        print(
            f"tracing overhead: pass_s {statistics.median(phases[1].pass_walls):.4f} s traced, "
            f"{statistics.median(base.pass_walls):.4f} s untraced"
        )
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(
        f"job_tail_s is p{extra['job_tail_percentile']:.1f} of {extra['jobs']} jobs "
        f"({extra['passes']} timed passes)"
    )
    print(f"failed_ratio = {failed / attempted:.6g} ({failed} of {attempted} jobs)")
    print(f"peak_rss_mb = {extra['peak_rss_mb']:.6g} MB (Spark JVM, timed passes)")
    for p in problems:
        print(f"problem: {p}")
    report.update(metrics=metrics, extra=extra, failed=failed, attempted=attempted)
    out = ROOT / ".perfbench_work" / f"report-{w.name}-trace{args.trace}.json"
    out.write_text(json.dumps(report, indent=1, sort_keys=True))
    print(f"report: {out.relative_to(ROOT)}")
    result = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
