"""Workload definitions and the jobs they run.

A workload is a list of jobs repeated in passes. A query job builds one
registry query (``plans.registry``), runs it to completion with the ``noop``
sink and releases the scoped caches; an ingest job is one
``pipeline.handler`` invocation on a generated payload. Every workload
discards ``warmup_passes`` full-size passes (the ingest workload then
``warmup_jobs`` invocations on its smallest fleet) before it times
``max(2, ceil(seconds / nominal_pass_s))`` passes: the pass count depends
only on ``--seconds``, so every run of a workload has the same number of
samples and its tail percentile means the same thing on both sides of an
A/B comparison.

The warm-up is counted in jobs because that is what the JVM's compilers
count: over the first 15-20 jobs of a fresh session, pass wall times kept
falling by 10-30% (measured on a 4-core host).
"""

from __future__ import annotations

import contextlib
import math
import time
from dataclasses import dataclass

import numpy as np

from datagen import drone_payload


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]  # empty: the drone-ingest job instead
    sf: float  # scale factor of the generated tables
    nominal_pass_s: float  # a pass on a 4-core host; sets the timed pass count
    warmup_passes: int
    warmup_jobs: int = 0  # ingest only: invocations on the smallest fleet

    def timed_passes(self, seconds: float) -> int:
        return max(2, math.ceil(seconds / self.nominal_pass_s))


# Why each workload is here sits next to it; BENCHMARK.json repeats it.
WORKLOADS = {
    w.name: w
    for w in (
        # The paper's own job: a scheduled fetch -> typed decode -> Feature
        # transform -> POST micro-batch. Fixed driver cost (plan build, one
        # Python-worker job, HTTP) dominates at fleet size; createDataFrame
        # grows with the fleet. No parquet scan, no shuffle. The fixed cost is
        # what warms up, so after one full pass the warm-up goes on with
        # 100-drone invocations, which cost about 0.9 s each. After a second
        # full pass instead, the first two timed passes were still 10-20%
        # slower than later ones.
        Workload(
            "drone_ingest",
            "the paper's job: handler fetch, Feature transform and POST per fleet; "
            "driver-bound, no scan or shuffle",
            (), 0.0, nominal_pass_s=5.5, warmup_passes=1, warmup_jobs=10,
        ),
        # LLM-data curation. The three multimodal_decode queries decode media
        # in Arrow mapInPandas workers; dedup_minhash and text_bpe_tokenize
        # run in the JVM. A traced run at sf0.01 (seed 1, 4 cores) spent 48%
        # of the pass wall in Python workers, 38% with no task running and
        # 13% in other task time; at sf0.02 the Python share was 50% and a
        # run took 60% longer, so sf stays 0.01. corpus_prepare_pipeline,
        # dedup_simhash_adaptive and dedup_exact_substring are left out: with
        # them a run took 60-80 s, too long for the benchmark's time budget;
        # dedup_minhash keeps the dedup stage they share. dedup_minhash warms
        # up slowest: 3.8, 1.6, 1.1, 1.1, 0.9, 0.7 s over its first six runs;
        # three passes are discarded, a fourth did not fit the time budget.
        Workload(
            "corpus_curation",
            "LLM-data curation: MinHash dedup and BPE tokenize in the JVM, media decode "
            "in Arrow mapInPandas workers, which take about half the pass wall",
            (
                "dedup_minhash", "text_bpe_tokenize", "multimodal_decode_adpcm",
                "multimodal_decode_flac", "multimodal_decode_jpeg",
            ),
            0.01, nominal_pass_s=4.0, warmup_passes=3,
        ),
    )
}

# Fleet sizes are log-spaced over 100-20,000 drones, one invocation of each
# per pass, in an order drawn from the seed: every pass and every seed does
# the same amount of work, and the seed varies the records.
FLEET_SIZES = (100, 600, 3_500, 20_000)


def fleet_sizes(rng: np.random.Generator) -> list[int]:
    return [FLEET_SIZES[i] for i in rng.permutation(len(FLEET_SIZES))]


class Tracer:
    """Spans around the benchmark's calls into the program, kept in memory.

    Disabled, it records nothing and sets no job group, so untraced runs
    measure the program alone."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self.spans: list[tuple[str, str, float, float]] = []  # name, group, t0, t1
        self.group = ""

    def set_group(self, group: str) -> None:
        if self.enabled:
            self.group = group
            self._sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, self.group, t0, time.time()))

    @contextlib.contextmanager
    def wrap(self, module, attr: str, name: str):
        """Open a span around every call of ``module.attr`` while active."""
        if not self.enabled:
            yield
            return
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, original)


@dataclass
class JobResult:
    group: str
    query: str  # registry name, or "handler"
    wall_s: float
    start: float  # epoch seconds, for event-log alignment
    end: float
    ok: bool = True
    error: str = ""
    outputs: int = 0  # Features verified at the receiver (ingest jobs)
    records: int = 0  # records fetched (ingest jobs)
    sent: int = 0  # features handler reported as POSTed
    batches: int = 0
    bytes_posted: int = 0
    post_failed: int = 0  # POSTs the receiver refused during the job


def run_query(spark, tracer: Tracer, name: str, data_dir: str, group: str, collect=False):
    """Build and run one registry query; ``collect`` returns its rows as
    pandas (the check pass) instead of running the ``noop`` sink."""
    from etl_drone_sense_spark.caching import release_caches
    from etl_drone_sense_spark.plans.registry import get

    tracer.set_group(group)
    rows = None
    start, t0 = time.time(), time.perf_counter()
    try:
        with tracer.span("plans.build"):
            df = get(name).fn(spark, data_dir)
        with tracer.span("plans.execute"):
            if collect:
                rows = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        err = ""
    except Exception as exc:  # a failed job is counted, the run goes on
        err = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        with tracer.span("caching.release"):
            release_caches()
    job = JobResult(group, name, time.perf_counter() - t0, start, time.time(), not err, err)
    return job, rows


def run_ingest(spark, tracer: Tracer, receiver, payload: list, golden: int, group: str):
    """One scheduled invocation of the reference pipeline, checked at the
    receiver after it returns."""
    from etl_drone_sense_spark import pipeline
    from receiver import verify

    tracer.set_group(group)
    start, t0 = time.time(), time.perf_counter()
    try:
        with (
            tracer.wrap(pipeline, "fetch_drone_records", "readers.fetch"),
            tracer.wrap(pipeline, "drone_features", "feature_transform.build"),
            tracer.wrap(pipeline, "rest_post_batches", "sinks.post"),
        ):
            sent = pipeline.handler(spark=spark, payload=payload)["features"]
        err = ""
    except Exception as exc:  # a failed job is counted, the run goes on
        sent, err = 0, f"{type(exc).__name__}: {exc}"[:500]
    job = JobResult(group, "handler", time.perf_counter() - t0, start, time.time())
    bodies, job.post_failed = receiver.take()
    received, problems = verify(bodies, payload, golden)
    if sent != len(payload):
        problems.append(f"handler reported {sent} features for {len(payload)} records")
    job.ok = not err and not problems
    job.error = err or "; ".join(problems[:3])
    job.outputs = received if job.ok else 0
    job.records, job.sent = len(payload), sent
    job.batches, job.bytes_posted = len(bodies), sum(map(len, bodies))
    return job


def ingest_pass(rng: np.random.Generator, tag: str, sizes=None) -> list[tuple[list, int]]:
    """Payloads (and the index of the golden record) for one ingest pass:
    one of each fleet size in seeded order, or the given ``sizes``."""
    out = []
    for k, n in enumerate(sizes or fleet_sizes(rng)):
        out.append((drone_payload(rng, n, f"{tag}-{k}"), int(rng.integers(0, n))))
    return out
