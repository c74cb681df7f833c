"""Shared pieces of the benchmark: the run context, in-memory span
tracer, Spark job counters, host markers, percentile helpers and the
result line."""

from __future__ import annotations

import itertools
import json
import os
import platform
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: the e2e figures every workload measures, with units. What they time:
#:
#: ========== ============================ ==================================
#: metric     query_mix                    app_ingest
#: ========== ============================ ==================================
#: setup_s    process start until ready: interpreter, JVM and session,
#:            generated inputs, worker pool, engine boot
#: cold_s     the first round              stream start until the last of
#:                                         three hot-swapped chains has
#:                                         caught up
#: pass_s     median warm round            median micro-batch (sink) time
#: op_*_ms    one query: build + count()   one read op on the live store
#: ack_*_ms   one query's builder call     one POST, from when it was due
#: fresh_*_s  one query in the cold round  event creation until visible in
#:                                         the store (steady window)
#: ========== ============================ ==================================
#:
#: corpus_build, run on demand, reads them as query_mix does with a pass
#: of its three stages for a round and one stage call for a query.
#:
#: Only the figures in :data:`E2E_UNITS` go into the result line, each
#: summing up many samples spread across the run. The op figure there is
#: a mean: a read on app_ingest that queues behind a micro-batch's jobs
#: takes seconds and one that does not a few hundred ms, and the median
#: of such a mix jumps between the two from run to run. The others go into
#: the record's ``e2e`` block: ``cold_s`` is one sample per run, the p90
#: tails rest on a handful of samples beyond them, and ack and freshness
#: follow the micro-batch cycle, which on a small shared host moves by
#: more than a quarter from one run to the next.
#:
#: The failed share of operations is not among them: it is 0 on a good
#: run, and ``attempted``/``failed`` in the result line carry it.
E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_mean_ms": "ms",
}

#: query families; each is also the span name of a query's execution
FAMILIES = (
    "ops", "docs.datalog", "docs.store", "llm.dedup", "llm.text",
)
#: units of work whose Spark jobs/stages/tasks are counted
COUNT_UNITS = FAMILIES + (
    "corpus.prepare", "corpus.ngram", "corpus.decontaminate", "ingest.batch", "ingest.read",
)
#: layers whose self time the traced run reports
LAYERS = (
    "session", "queries", "ops", "docs.store", "docs.datalog", "docs.sink",
    "streaming.collector", "streaming.graph", "engine", "llm.dedup", "llm.text",
    "llm.pipeline",
)


#: per-layer metric (prefix) → the end-to-end figures, by workload, it
#: should move (those outside :data:`E2E_UNITS` are in the record's
#: ``e2e`` block); written down before any measurement. Fewer Spark jobs
#: should move op_mean_ms on query_mix and leave pass_s on corpus_build
#: unchanged.
MOVES = {
    "queries.build_ms": {"query_mix": ("op_mean_ms", "op_p90_ms", "ack_p50_ms", "ack_p90_ms", "pass_s")},
    "queries.exec_ms": {"query_mix": ("op_mean_ms", "op_p90_ms", "pass_s")},
    "spark.jobs": {"query_mix": ("op_mean_ms",)},
    "spark.stages": {"query_mix": ("op_mean_ms",)},
    "spark.tasks": {"query_mix": ("op_mean_ms",)},
    "spark.failed_tasks": {"query_mix": ("op_p90_ms",), "app_ingest": ("fresh_p90_s",)},
    "session.floor_ms": {"query_mix": ("op_mean_ms",), "app_ingest": ("op_mean_ms",)},
    "queries.asset_build_s": {"query_mix": ("cold_s", "fresh_p90_s")},
    "llm.dedup": {"corpus_build": ("pass_s",), "query_mix": ("op_p90_ms",)},
    "llm.text": {"corpus_build": ("pass_s",), "query_mix": ("op_p90_ms",)},
    "llm.pipeline": {"corpus_build": ("pass_s",), "query_mix": ("op_p90_ms",)},
    "docs.sink": {"app_ingest": ("fresh_p50_s", "fresh_p90_s", "pass_s")},
    "streaming.graph.idle_s": {"app_ingest": ("fresh_p50_s", "fresh_p90_s")},
    "streaming.graph.backlog_end": {"app_ingest": ("fresh_p50_s", "fresh_p90_s")},
    "gen.lag_ms": {"app_ingest": ("ack_p90_ms",)},
    "docs.store": {"app_ingest": ("op_mean_ms", "op_p90_ms", "fresh_p90_s")},
    "docs.datalog.q_ms": {"app_ingest": ("op_mean_ms", "op_p90_ms", "fresh_p90_s")},
    "docs.store.versions_per_event": {"app_ingest": ("fresh_p90_s",)},
    "docs.sink.durable_bytes_per_event": {"app_ingest": ("fresh_p90_s",)},
    "streaming.collector.ack_ms": {"app_ingest": ("ack_p50_ms", "ack_p90_ms")},
    "engine.create_function_ms": {"app_ingest": ("cold_s", "setup_s")},
    "streaming.graph.restart_s": {"app_ingest": ("cold_s",)},
    "engine.swap_s": {"app_ingest": ("cold_s",)},
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit. A workload that does not
    touch a layer reports 0 for it."""
    u: dict[str, str] = {}
    for f in FAMILIES:
        u[f"queries.build_ms.{f}"] = "ms"
        u[f"queries.exec_ms.{f}"] = "ms"
    for c in COUNT_UNITS:
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            u[f"spark.{k}.{c}"] = "count"
    u.update({
        "session.floor_ms_start": "ms",
        "session.floor_ms_end": "ms",
        "queries.asset_build_s": "s",
        "llm.dedup.exact_keepers_s": "s",
        "llm.dedup.minhash_pairs_s": "s",
        "llm.dedup.canonical_s": "s",
        "llm.text.features_s": "s",
        "llm.pipeline.prepare_s": "s",
        "llm.dedup.ngram_pairs_s": "s",
        "llm.pipeline.decontaminate_s": "s",
        "llm.dedup.minhash_pairs": "count",
        "llm.dedup.ngram_pairs": "count",
        "llm.pipeline.kept_docs": "count",
        "llm.pipeline.removed_docs": "count",
        "llm.dedup.near_dup_yield": "ratio",
        "docs.sink.batch_s_p50": "s",
        "docs.sink.batch_s_p90": "s",
        "docs.sink.rows_per_batch": "count",
        "docs.sink.batches": "count",
        "streaming.graph.idle_s": "s",
        "streaming.graph.backlog_end": "count",
        "gen.lag_ms": "ms",
        "docs.store.latest_ms": "ms",
        "docs.store.entity_ms": "ms",
        "docs.store.as_of_ms": "ms",
        "docs.store.history_ms": "ms",
        "docs.datalog.q_ms": "ms",
        "docs.store.versions_per_event": "ratio",
        "docs.sink.durable_bytes_per_event": "bytes",
        "streaming.collector.ack_ms": "ms",
        "engine.create_function_ms": "ms",
        "streaming.graph.restart_s": "s",
        "engine.swap_s": "s",
    })
    for layer in LAYERS:
        u[f"self_s.{layer}"] = "s"
    u["trace.overhead_s"] = "s"
    return u


def pct(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values)


class Tracer:
    """In-memory spans (name, start, end, parent, run id, attributes),
    written out once when the run ends. Disabled, ``span`` is a bare
    ``yield`` so untraced runs pay nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def off(self):
        """Suspend tracing in the calling thread only."""
        self._local.off = True
        try:
            yield
        finally:
            self._local.off = False

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled or getattr(self._local, "off", False):
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "start": t0, "end": t1,
                    "parent": parent, "run": self.run_id, **attrs,
                })

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


class JobCounter:
    """Exact Spark job / stage / task counts per unit of work, read
    through ``setJobGroup`` and the public ``statusTracker()``. Only the
    traced run counts; untraced, ``group`` is a bare ``yield``."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.counts = {u: {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0} for u in COUNT_UNITS}
        self._n = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def off(self):
        """Suspend counting in the calling thread only."""
        self._local.off = True
        try:
            yield
        finally:
            self._local.off = False

    @contextmanager
    def group(self, unit: str):
        if not self.enabled or getattr(self._local, "off", False):
            yield
            return
        sc = self.spark.sparkContext
        gid = f"perfbench-{unit}-{next(self._n)}"
        sc.setJobGroup(gid, unit)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._add(unit, gid)

    def _add(self, unit: str, gid: str) -> None:
        st = self.spark.sparkContext.statusTracker()
        c = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for jid in st.getJobIdsForGroup(gid):
            job = st.getJobInfo(jid)
            if job is None:
                continue
            c["jobs"] += 1
            for sid in job.stageIds:
                info = st.getStageInfo(sid)
                if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                    continue  # skipped stage: its shuffle output was reused
                c["stages"] += 1
                c["tasks"] += info.numCompletedTasks
                c["failed_tasks"] += info.numFailedTasks
        with self._lock:
            for k, v in c.items():
                self.counts[unit][k] += v

    def metrics(self) -> dict[str, float]:
        return {
            f"spark.{k}.{u}": float(v) for u, c in self.counts.items() for k, v in c.items()
        }


@dataclass
class Result:
    """What a workload's ``run`` returns. ``e2e`` and ``layer`` map
    metric name → value; ``record`` holds everything else worth
    keeping (per-op samples, gate details)."""

    correct: bool
    attempted: int
    failed: int
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    record: dict = field(default_factory=dict)


class Ctx:
    """What a workload receives: parsed arguments, the work directory
    and the tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str,
                 scale: float = 1.0, faults: tuple = ()):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.scale = scale
        self.faults = set(faults)
        self.tracer = Tracer(trace, f"{workload}-{seed}-{os.getpid()}")


def floor_ms(spark, n: int = 7) -> float:
    """Median wall time of one trivial cached count: the per-action
    floor, a host marker that explains op latency."""
    one = spark.range(1).cache()
    one.count()
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        one.count()
        ts.append(time.perf_counter() - t0)
    one.unpersist()
    return median(ts) * 1000.0


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def host_markers(spark) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def emit(record: dict, correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    """Print the full record, then the result line (the last line of
    standard output)."""
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
