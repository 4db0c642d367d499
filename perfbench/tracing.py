"""Per-layer tracing for the traced benchmark run, measured from outside.

Three sources, none of which changes program code:

* driver spans: wrappers around the public functions of each layer,
  installed on the class (methods) or on the defining module plus every
  program module that bound the function with ``from ... import``;
* Spark's own event log (JSON lines, uncompressed, not rolled), folded
  per query by job submission time inside the query's window;
* a ``StreamingQueryListener`` registered by the benchmark, for
  per-trigger durations and state size.
"""

from __future__ import annotations

import bisect
import functools
import glob
import importlib
import json
import os
import statistics
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager

PKG = "synthetic_datagen_spark"

# span name -> (module, attribute) targets; "Class.method" patches the
# method on the class, a bare name patches a module function.
SPAN_TARGETS: dict[str, list[tuple[str, str]]] = {
    "functions.vectors.lsh_pairs": [
        ("functions.vectors", "lsh_near_dup_pairs"),
        ("functions.vectors", "lsh_near_dup_pairs_scaled"),
    ],
    "functions.vectors.index_fit": [
        ("functions.vectors", "IvfIndex.build"),
        ("functions.vectors", "PqIndex.build"),
        ("functions.vectors", "IvfPqIndex.build"),
        ("functions.vectors", "fit_pq_codebooks"),
    ],
    "functions.graph.components": [
        ("functions.graph", "min_label_components"),
        ("functions.graph", "large_small_star_components"),
    ],
    "regime.gmm_fit": [("regime.model", "RegimeModel.fit")],
    "regime.baum_welch": [("regime.hmm", "baum_welch")],
    "regime.viterbi": [("regime.hmm", "viterbi_label")],
    "regime.garch_fit": [("regime.garch", "fit_garch_grid")],
    "regime.generate": [
        ("regime.generate", "RegimeGenerator.generate"),
        ("regime.regime_gan", "generate"),
    ],
    "generators.fit": [
        ("generators.block_bootstrap", "BlockBootstrapGenerator.fit"),
        ("generators.grasynda", "GrasyndaGenerator.fit"),
    ],
    "ml.train": [
        ("ml.decoder", "_TrainerBase.fit"),
        ("ml.decoder", "GanTrainer.fit"),
        ("ml.decoder", "TimeGanTrainer.fit"),
        ("regime.regime_gan", "RegimeGanTrainer.fit"),
    ],
    "evaluators.predictive": [
        ("evaluators.predictive", "PredictiveEvaluator.evaluate"),
        ("evaluators.predictive", "PredictiveEvaluator.sweep"),
        ("evaluators.predictive", "PredictiveEvaluator.evaluate_reference_keys"),
    ],
    "evaluators.distribution": [
        ("evaluators.distribution", "DistributionEvaluator.evaluate"),
        ("evaluators.distribution", "DistributionEvaluator.evaluate_arrays"),
        ("evaluators.distribution", "DistributionEvaluator.evaluate_reference"),
        ("evaluators.distribution", "DistributionEvaluator.evaluate_reference_keys"),
        ("evaluators.distribution", "spectral_distance"),
    ],
    "optimize.search": [
        ("optimize.ga", "GAOptimizer.optimize"),
        ("optimize.staged", "StagedOptimizer.optimize"),
        ("optimize.sweep", "random_sweep"),
    ],
}

# (metric, unit) of every per-layer number, in BENCHMARK.json order
PER_LAYER_METRICS: list[tuple[str, str]] = [
    ("query_p50_s", "s"),
    ("query_tail_s", "s"),
    ("warm_wall_s", "s"),
    ("session.get_spark_s", "s"),
    ("session.warmup_s", "s"),
    ("operators.build_self_s", "s"),
    ("operators.action_s", "s"),
    ("driver.cpu_s", "s"),
    ("jvm.peak_rss_mb", "MB"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.job_busy_s", "s"),
    ("spark.driver_gap_s", "s"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.shuffle_mb", "MB"),
    ("spark.input_mb", "MB"),
    ("spark.output_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.gc_s", "s"),
    ("functions.memo.hits", "count"),
    ("functions.memo.misses", "count"),
    ("functions.memo.hit_ratio", "ratio"),
    ("functions.memo.build_s", "s"),
    ("functions.vectors.lsh_pairs_s", "s"),
    ("functions.vectors.index_fit_s", "s"),
    ("functions.graph.components_s", "s"),
    ("regime.gmm_fit_s", "s"),
    ("regime.baum_welch_s", "s"),
    ("regime.viterbi_s", "s"),
    ("regime.garch_fit_s", "s"),
    ("regime.generate_s", "s"),
    ("generators.fit_s", "s"),
    ("ml.train_s", "s"),
    ("evaluators.predictive_s", "s"),
    ("evaluators.distribution_s", "s"),
    ("optimize.search_s", "s"),
    ("optimize.fitness_evals", "count"),
    ("streaming.triggers", "count"),
    ("streaming.trigger_p50_ms", "ms"),
    ("streaming.add_batch_s", "s"),
    ("streaming.commit_s", "s"),
    ("streaming.planning_s", "s"),
    ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"),
]


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
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


class Tracer:
    """In-memory span recorder. A span's parent is the innermost open
    span on the same thread, or the current query's root span when the
    call comes from a driver thread pool."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.query: str | None = None
        self.root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def reset(self) -> None:
        """Forget spans and counts recorded so far (the warmup's)."""
        self.spans.clear()
        self.counts.clear()

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "query": self.query}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def query_root(self, query: str, phase: str):
        """Root span of one query phase ("build" or "action")."""
        self.query = query
        with self.span(f"query.{phase}") as rec:
            self.root = rec["id"]
            try:
                yield rec
            finally:
                self.root = None

    # ------------------------------------------------------------ patching
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)

        return wrapper

    def patch_function(self, module_name: str, attr: str, make) -> None:
        """Replace ``module.attr`` by ``make(orig)`` on its module and on
        every loaded program module that bound the same object."""
        mod = importlib.import_module(f"{PKG}.{module_name}")
        orig = getattr(mod, attr)
        new = make(orig)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(PKG) and m.__dict__.get(attr) is orig:
                setattr(m, attr, new)

    def patch_method(self, module_name: str, qual: str, make) -> None:
        cls_name, meth = qual.split(".")
        cls = getattr(importlib.import_module(f"{PKG}.{module_name}"), cls_name)
        orig = cls.__dict__[meth]
        if isinstance(orig, classmethod):
            new = classmethod(make(orig.__func__))
        else:
            new = make(orig)
        setattr(cls, meth, new)

    def install(self) -> None:
        for span_name, targets in SPAN_TARGETS.items():
            for module_name, attr in targets:
                make = functools.partial(self._wrap, span_name)
                if "." in attr:
                    self.patch_method(module_name, attr, make)
                else:
                    self.patch_function(module_name, attr, make)
        self.patch_function("functions.memo", "app_scoped_memo", self._wrap_memo)
        self.patch_function("optimize.ga", "moment_match_fitness", self._wrap_fitness_factory)

    def _wrap_memo(self, orig):
        tracer = self

        @functools.wraps(orig)
        def app_scoped_memo(cache, spark, cache_key, build):
            def counted_build():
                tracer.counts["memo.misses"] += 1
                return build()

            tracer.counts["memo.calls"] += 1
            return orig(cache, spark, cache_key,
                        tracer._wrap("functions.memo.build", counted_build))

        return app_scoped_memo

    def _wrap_fitness_factory(self, orig):
        tracer = self

        @functools.wraps(orig)
        def moment_match_fitness(*a, **k):
            fitness = orig(*a, **k)

            @functools.wraps(fitness)
            def counted(spark, cands, gen):
                tracer.counts["fitness_evals"] += len(cands)
                return fitness(spark, cands, gen)

            return counted

        return moment_match_fitness

    # ------------------------------------------------------------- folding
    def layer_seconds(self, span_name: str) -> float:
        """Wall time covered by spans of one name (nested calls of the
        same layer count once)."""
        return union_s((s["start"], s["end"]) for s in self.spans
                       if s["name"] == span_name and s["end"] is not None)

    def build_self_s(self) -> float:
        """Driver time inside ``build()`` minus the child-layer spans."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        total = 0.0
        for s in self.spans:
            if s["name"] == "query.build":
                kids = [(max(a, s["start"]), min(b, s["end"]))
                        for a, b in children.get(s["id"], [])]
                total += (s["end"] - s["start"]) - union_s(k for k in kids if k[1] > k[0])
        return total

    def write(self, path: str, **extra) -> None:
        """One span file per traced run: every span (name, start, end,
        parent, query), the counters, and ``extra`` sections."""
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": dict(self.counts), **extra}, fh)


def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps every progress report as a
    plain dict (durations, state rows and bytes)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.progress.append({
                "id": str(p.id),
                "ts": p.timestamp,
                "durationMs": dict(p.durationMs or {}),
                "numInputRows": p.numInputRows,
                "stateRows": sum(s.numRowsTotal for s in p.stateOperators),
                "stateBytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressListener()


def stream_metrics(progress: list[dict]) -> dict[str, float]:
    def total_ms(*keys):
        return sum(p["durationMs"].get(k, 0) for p in progress for k in keys)

    trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    last: dict[str, dict] = {}
    for p in progress:
        last[p["id"]] = p
    return {
        "streaming.triggers": len(progress),
        "streaming.trigger_p50_ms": float(statistics.median(trig)) if trig else 0.0,
        "streaming.add_batch_s": total_ms("addBatch") / 1e3,
        "streaming.commit_s": total_ms("walCommit", "commitOffsets") / 1e3,
        "streaming.planning_s": total_ms("queryPlanning", "latestOffset", "getBatch") / 1e3,
        "streaming.state_rows": sum(p["stateRows"] for p in last.values()),
        "streaming.state_mb": sum(p["stateBytes"] for p in last.values()) / 1e6,
    }


# ----------------------------------------------------------- event log
def read_event_log(log_dir: str) -> dict:
    """Jobs (with their stages) and per-stage task sums from the one
    uncompressed event-log file of the run's application."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event-log file in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: Counter = Counter()
    tasks: dict[int, Counter] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"start": ev["Submission Time"] / 1e3, "end": None}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                stages[stage_job.get(ev["Stage Info"]["Stage ID"], -1)] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                c = tasks.setdefault(stage_job.get(ev["Stage ID"], -1), Counter())
                c["tasks"] += 1
                c["run_ms"] += m.get("Executor Run Time", 0)
                c["cpu_ns"] += m.get("Executor CPU Time", 0)
                c["gc_ms"] += m.get("JVM GC Time", 0)
                c["spill_b"] += m.get("Disk Bytes Spilled", 0)
                c["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                c["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                c["output_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for jid, j in jobs.items():
        j["stages"] = stages.get(jid, 0)
        j["task"] = tasks.get(jid, Counter())
        if j["end"] is None:
            j["end"] = j["start"]
    return jobs


def attribute_jobs(jobs: dict, windows: list[dict]) -> dict:
    """Assign each job to the window (query phase) in which it was
    submitted. Returns {"windows": [[job ids]...], "outside": [job ids]}.

    Event-log times have millisecond resolution, so windows are widened
    by 1 ms on each side; they never overlap because queries run one at
    a time."""
    out = {"windows": [[] for _ in windows], "outside": []}
    bounds = sorted((w["start"] - 1e-3, w["end"] + 1e-3, i) for i, w in enumerate(windows))
    starts = [b[0] for b in bounds]
    for jid, j in sorted(jobs.items()):
        k = bisect.bisect_right(starts, j["start"]) - 1
        if k >= 0 and j["start"] <= bounds[k][1]:
            out["windows"][bounds[k][2]].append(jid)
        else:
            out["outside"].append(jid)
    return out


def spark_metrics(jobs: dict, job_ids: list[int], wall_s: float) -> dict[str, float]:
    c: Counter = Counter()
    for jid in job_ids:
        c.update(jobs[jid]["task"])
    busy = union_s((jobs[j]["start"], jobs[j]["end"]) for j in job_ids)
    mb = 1e6
    return {
        "spark.jobs": len(job_ids),
        "spark.stages": sum(jobs[j]["stages"] for j in job_ids),
        "spark.tasks": c["tasks"],
        "spark.job_busy_s": busy,
        "spark.driver_gap_s": wall_s - busy,
        "spark.task_run_s": c["run_ms"] / 1e3,
        "spark.task_cpu_s": c["cpu_ns"] / 1e9,
        "spark.shuffle_mb": c["shuffle_b"] / mb,
        "spark.input_mb": c["input_b"] / mb,
        "spark.output_mb": c["output_b"] / mb,
        "spark.spill_mb": c["spill_b"] / mb,
        "spark.gc_s": c["gc_ms"] / 1e3,
    }
