"""Measurement from outside the package: per-call Spark accounting, process
memory and driver-side kernel timings.

``Tracer.call`` wraps one call into a layer's public function. Untraced, it
only times the call. Traced, it also gives the call its own Spark job group
and, once the call returns, reads the group's jobs and stages from
``statusTracker`` and per-stage run time, CPU time and shuffle and output
bytes from the status store. Those reads happen after the call's clock
stops; their own cost is kept as ``Span.accounting_s``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np


@dataclass
class Span:
    name: str
    parent: str
    start: float
    wall: float
    jobs: int = 0
    stages: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    output_bytes: int = 0
    covered_s: float = 0.0      # part of the wall time some job was running
    accounting_s: float = 0.0


class Tracer:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[Span] = []
        self.parent = ""
        self._n = 0

    @contextmanager
    def op(self, name: str):
        """A benchmark-level operation: the parent of the calls inside."""
        prev, self.parent = self.parent, name
        try:
            yield
        finally:
            self.parent = prev

    @contextmanager
    def call(self, name: str):
        sc = self.spark.sparkContext
        span = Span(name, self.parent, time.time(), 0.0)
        if self.traced:
            self._n += 1
            group = f"perfbench-{self._n}"
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span.wall = time.perf_counter() - t0
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                t1 = time.perf_counter()
                self._account(span, group)
                span.accounting_s = time.perf_counter() - t1
            self.spans.append(span)

    def _account(self, span: Span, group: str) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        end_ms = (span.start + span.wall) * 1000.0
        intervals = []
        for job in tracker.getJobIdsForGroup(group):
            span.jobs += 1
            jd = store.job(job)
            lo = jd.submissionTime().get().getTime()
            hi = (jd.completionTime().get().getTime()
                  if jd.completionTime().isDefined() else end_ms)
            intervals.append((max(lo, span.start * 1000.0), min(hi, end_ms)))
            for stage in tracker.getJobInfo(job).stageIds:
                sd = store.lastStageAttempt(stage)
                if sd.status().toString() != "COMPLETE":
                    continue            # skipped: its output was reused
                span.stages += 1
                span.run_s += sd.executorRunTime() / 1e3
                span.cpu_s += sd.executorCpuTime() / 1e9
                span.shuffle_bytes += sd.shuffleWriteBytes()
                span.output_bytes += sd.outputBytes()
        covered, reach = 0.0, float("-inf")
        for lo, hi in sorted(intervals):
            lo = max(lo, reach)
            if hi > lo:
                covered += hi - lo
                reach = hi
        span.covered_s = covered / 1000.0

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def median(xs) -> float:
    return float(statistics.median(xs))


def p90(xs) -> float:
    if len(xs) < 2:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[-1])


class PeakRss:
    """Peak summed resident memory of this process's descendants: the
    driver JVM, the Python worker daemon and its workers. The benchmark's
    own interpreter (inputs, oracle) is excluded. Sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _sample(self) -> int:
        parent, rss = {}, {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{p}/statm") as f:
                    rss[int(p)] = int(f.read().split()[1]) * self._page
            except OSError:
                continue                # the process ended meanwhile
            parent[int(p)] = int(stat[stat.rindex(")") + 2:].split()[1])
        me, total = os.getpid(), 0
        for pid in rss:
            q = parent.get(pid)
            while q is not None and q != me and q > 1:
                q = parent.get(q)
            if q == me:
                total += rss[pid]
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.interval)


def _rate(fn, units: float, reps: int = 3) -> float:
    """units per second of ``fn`` over its median repetition."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return units / median(ts)


def kernels(contents: list[str], postings: list[np.ndarray],
            qs_queries: list[str]) -> dict[str, tuple[float, str]]:
    """Driver-side timings of the tokenizer, codec and parser kernels on
    fixed seeded inputs: name -> (value, unit)."""
    import pyarrow as pa

    from luceneindexer_spark.codecs import decode_postings, encode_postings
    from luceneindexer_spark.query.parser import parse_query_string
    from luceneindexer_spark.tokenizer import tokenize_flat_arrow

    arr = pa.array(contents, pa.string())
    mb = arr.buffers()[2].size / 1e6
    rng = np.random.default_rng(0)
    tfs = [rng.integers(1, 4, size=len(p)) for p in postings]
    eps = [encode_postings(p, t) for p, t in zip(postings, tfs)]
    enc_mb = sum(len(e.docs_enc) + len(e.tfs_enc) for e in eps) / 1e6
    n_parse = 50 * len(qs_queries)
    return {
        "tokenizer.mb_per_s": (_rate(lambda: tokenize_flat_arrow(arr), mb),
                               "MB/s"),
        "codecs.encode_mb_per_s": (_rate(
            lambda: [encode_postings(p, t) for p, t in zip(postings, tfs)],
            enc_mb), "MB/s"),
        "codecs.decode_mb_per_s": (_rate(
            lambda: [decode_postings(e) for e in eps], enc_mb), "MB/s"),
        "codecs.bytes_per_posting": (
            enc_mb * 1e6 / sum(map(len, postings)), "B"),
        "parser.parse_us": (1e6 / _rate(
            lambda: [parse_query_string(q) for _ in range(50)
                     for q in qs_queries], n_parse), "us"),
    }
