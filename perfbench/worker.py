"""One benchmark run in a fresh process (started by ``run.py``).

Set up (``get_spark`` plus the flagship warmup), run the selected
queries one at a time in the seed's order — each timed as
``build()`` plus a ``noop`` write, exactly like ``bench.py`` — check
every output digest outside the timed region, run any further rounds
of the same queries, re-run the reusable queries warm once, and write
the raw result to ``--out``. The fixed query set, not ``--seconds``,
sets how long a run measures: every query runs and is checked on every
run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402
from digest import digest  # noqa: E402


def rss_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of a live process, in KiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail_percentile(values: list[float]) -> tuple[float, int]:
    """The highest percentile with at least 10 samples beyond it, and
    which percentile that is. With 20 or fewer samples that percentile
    would be the median or below it, so the tail is the maximum (p100)."""
    xs = sorted(values)
    if len(xs) <= 20:
        return xs[-1], 100
    k = len(xs) - 11
    return xs[k], int(100 * (k + 1) / len(xs))


def warm_engine(spark, scratch: str) -> None:
    """Pay the session's one-time engine costs before timing: start one
    Python worker per core (importing what the operators' pandas UDFs
    import), and take the parquet write/read and reliable-checkpoint
    paths once. Without this, whichever query the seed puts first pays
    them, and per-query latencies depend on the order."""
    n = spark.sparkContext.defaultParallelism

    def touch(batches):
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401

        import synthetic_datagen_spark  # noqa: F401

        yield from batches

    df = spark.range(n * 1000, numPartitions=n)
    df.mapInPandas(touch, "id long").write.format("noop").mode("overwrite").save()
    df.write.mode("overwrite").parquet(scratch)
    spark.read.parquet(scratch).checkpoint().count()


def redirect_scratch(root: str) -> None:
    """Keep the source queries' fixed scratch tree inside the run dir."""
    from synthetic_datagen_spark.operators import source_queries as SQ

    orig = SQ._scratch

    def _scratch(spark, kind, sf_dir):
        return orig(spark, kind, sf_dir).replace("/tmp/spark_graft_scratch", root, 1)

    SQ._scratch = _scratch


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-file")
    args = ap.parse_args()
    launched = float(os.environ["PERFBENCH_LAUNCHED_AT"])

    from synthetic_datagen_spark.operators import REGISTRY
    from synthetic_datagen_spark.session import get_spark

    import tracing as T

    rounds, reusable = W.select(REGISTRY, args.workload, args.seed)
    queries = rounds[0]
    golden = W.golden(os.path.basename(args.sf_dir.rstrip("/")))
    redirect_scratch(os.path.join(args.run_dir, "scratch"))

    tracer = T.Tracer() if args.trace else None
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    log_dir = os.path.join(args.run_dir, "eventlog")
    if tracer:
        os.makedirs(log_dir)
        tracer.install()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    t0 = time.time()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    listener = None
    if tracer:
        listener = T.make_stream_listener()
        spark.streams.addListener(listener)

    def phase(name: str, kind: str):
        return tracer.query_root(name, kind) if tracer else contextlib.nullcontext()

    def timed(name: str):
        """(DataFrame, start, build seconds, noop-write seconds) of one query."""
        with phase(name, "build"):
            b0 = time.time()
            df = REGISTRY[name].build(spark, args.sf_dir)
        with phase(name, "action"):
            a0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            a1 = time.time()
        return df, b0, a0 - b0, a1 - a0

    windows: list[dict] = []
    w0 = time.time()
    timed(W.WARMUP_QUERY)
    warm_engine(spark, os.path.join(args.run_dir, "warm.parquet"))
    spark.catalog.clearCache()
    ready = time.time()
    windows.append({"kind": "warmup", "query": None, "start": w0, "end": ready})
    if tracer:
        tracer.reset()

    records: list[dict] = []
    cpu_s = 0.0

    def execute(name: str, pass_name: str) -> None:
        nonlocal cpu_s
        ru0 = resource.getrusage(resource.RUSAGE_SELF)
        rec = {"query": name, "phase": pass_name, "ok": False, "error": None}
        try:
            df, start, build_s, action_s = timed(name)
        except Exception as e:  # a failing query is counted, not fatal
            rec.update(error=f"{type(e).__name__}: {e}"[:500], latency=None)
            records.append(rec)
            spark.catalog.clearCache()
            return
        ru1 = resource.getrusage(resource.RUSAGE_SELF)
        cpu_s += (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime)
        end = start + build_s + action_s
        rec.update(latency=build_s + action_s, build_s=build_s, action_s=action_s)
        windows.append({"kind": pass_name, "query": name, "start": start, "end": end})
        if pass_name == "repeat":
            # a later round of a query the cold pass checked in this run
            rec["ok"] = True
            records.append(rec)
            spark.catalog.clearCache()
            return
        c0 = time.time()
        try:
            got = digest(df)
            rec["ok"] = got == golden.get(name)
            if not rec["ok"]:
                rec["error"] = f"digest {got} != golden {golden.get(name)}"
        except Exception as e:  # the check itself failed: count it
            rec["error"] = f"check {type(e).__name__}: {e}"[:500]
        windows.append({"kind": "check", "query": name, "start": c0, "end": time.time()})
        records.append(rec)
        spark.catalog.clearCache()

    for name in queries:
        execute(name, "cold")
    for order in rounds[1:]:
        for name in order:
            execute(name, "repeat")
    for name in reusable:
        execute(name, "warm")

    driver_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm_mb = rss_kb(spark.sparkContext._gateway.proc.pid) / 1024
    progress = []
    if listener:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        progress = list(listener.progress)
    spark.stop()

    warm = [r["latency"] for r in records if r["phase"] == "warm" and r["latency"] is not None]
    # a query's latency is its median over the rounds (the cold pass
    # alone, for a workload of one round)
    per_query: dict[str, list[float]] = {}
    for r in records:
        if r["phase"] in ("cold", "repeat") and r["latency"] is not None:
            per_query.setdefault(r["query"], []).append(r["latency"])
    lat = [statistics.median(v) for v in per_query.values()]
    tail, tail_pct = tail_percentile(lat) if lat else (0.0, 100)
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "queries": queries,
        "rounds": len(rounds),
        "records": records,
        "attempted": len(records),
        "failed": sum(not r["ok"] for r in records),
        "tail_percentile": tail_pct,
        "end_to_end": {
            "setup_s": ready - launched,
            "wall_s": sum(lat),
            "query_p50_s": statistics.median(lat) if lat else 0.0,
            "query_tail_s": tail,
            "driver_peak_rss_mb": driver_mb,
        },
    }
    if tracer:
        timed = ("cold", "repeat", "warm")
        timed_windows = [w for w in windows if w["kind"] in timed]
        jobs = T.read_event_log(log_dir)
        att = T.attribute_jobs(jobs, windows)
        in_timed = [j for w, ids in zip(windows, att["windows"]) if w["kind"] in timed
                    for j in ids]
        wall = sum(w["end"] - w["start"] for w in timed_windows)
        memo_calls, memo_misses = tracer.counts["memo.calls"], tracer.counts["memo.misses"]
        layer = {
            "query_p50_s": result["end_to_end"]["query_p50_s"],
            "query_tail_s": result["end_to_end"]["query_tail_s"],
            "warm_wall_s": sum(warm),
            "session.get_spark_s": t1 - t0,
            "session.warmup_s": ready - w0,
            "operators.build_self_s": tracer.build_self_s(),
            "operators.action_s": sum(r.get("action_s", 0.0) for r in records),
            "driver.cpu_s": cpu_s,
            "jvm.peak_rss_mb": jvm_mb,
            **T.spark_metrics(jobs, in_timed, wall),
            "functions.memo.hits": memo_calls - memo_misses,
            "functions.memo.misses": memo_misses,
            "functions.memo.hit_ratio": (memo_calls - memo_misses) / memo_calls if memo_calls else 0.0,
            "functions.memo.build_s": tracer.layer_seconds("functions.memo.build"),
            "optimize.fitness_evals": tracer.counts["fitness_evals"],
            **T.stream_metrics(progress),
        }
        for span_name in T.SPAN_TARGETS:
            layer[span_name + "_s"] = tracer.layer_seconds(span_name)
        result["per_layer"] = layer
        result["reconcile"] = {
            "event_log_busy_s": T.union_s((j["start"], j["end"]) for j in jobs.values()),
            "window_busy_s": [
                T.union_s((jobs[j]["start"], jobs[j]["end"]) for j in ids) for ids in att["windows"]
            ],
            "windows": windows,
            "warmup_jobs": sum(len(ids) for w, ids in zip(windows, att["windows"])
                               if w["kind"] == "warmup"),
            "unattributed_jobs": len(att["outside"]),
            "traced_wall_s": wall,
        }
        if args.trace_file:
            tracer.write(args.trace_file, per_layer=layer, end_to_end=result["end_to_end"],
                         reconcile=result["reconcile"], records=records)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
