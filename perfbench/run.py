"""Benchmark of the synthetic_datagen_spark query catalog.

Usage, from the repository root:

    python3 perfbench/run.py --workload sql_panel --seed 1 --seconds 40 --trace 0

One closed-loop client: a fresh Python process (``worker.py``) runs one
query at a time on ``local[<cores>]`` over the fixed sf0.01 tables in
``perfbench/data``. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes stays under ``.perfbench/`` in
the checkout and is removed at the end, except the span file of a
traced run (``.perfbench/traces/``).

A run always executes and checks its whole query set, so the workload,
not ``--seconds``, sets how long it measures. ``--seconds`` is accepted
for the interface BENCHMARK.json describes, whose ``run_seconds`` is
about the measured time of a panel run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.01")
# a panel run ends well inside 180 s; a full family pass takes minutes
PANEL_TIMEOUT_S = 170
FAMILY_TIMEOUT_S = 1200

sys.path.insert(0, HERE)

from tracing import PER_LAYER_METRICS  # noqa: E402
from workloads import PANELS  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "driver_peak_rss_mb": "MB",
}


def exit_on_sigterm(signum, frame) -> None:
    """Turn SIGTERM into SystemExit, so that ``run_worker`` still stops
    the worker's session when the benchmark itself is stopped."""
    raise SystemExit(128 + signum)


def stop_group(proc: subprocess.Popen) -> None:
    """Stop every process left in the worker's session (its JVM and
    Python workers) and wait until none is alive."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 10
        while time.time() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)
    proc.wait()


def run_worker(args, sf_dir: str, run_dir: str) -> dict:
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--trace", str(args.trace),
        "--sf-dir", sf_dir, "--run-dir", run_dir, "--out", out,
    ]
    if args.trace:
        traces = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        cmd += ["--trace-file", os.path.join(traces, f"trace-{args.workload}-{args.seed}.json")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_ARTIFACT_DIR=os.path.join(run_dir, "artifacts"),
        SPARK_GRAFT_CHECKPOINT_DIR=os.path.join(run_dir, "checkpoints"),
        PERFBENCH_LAUNCHED_AT=repr(time.time()),
    )
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, cwd=run_dir, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=PANEL_TIMEOUT_S if args.workload in PANELS else FAMILY_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            stop_group(proc)
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"worker exited with {rc}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test hook: the same workloads on the sf0.001 tables
    ap.add_argument("--sf-dir", default=SF_DIR, help=argparse.SUPPRESS)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, exit_on_sigterm)
    if not os.path.isdir(os.path.join(ROOT, "synthetic_datagen_spark")):
        print(f"perfbench: no synthetic_datagen_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        res = run_worker(args, os.path.abspath(args.sf_dir), run_dir)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for r in res["records"]:
        if r["ok"]:
            print(f"{r['phase']} {r['query']} {r['latency']:.3f} s")
        else:
            print(f"FAILED {r['phase']} {r['query']}: {r['error']}")
    e2e = res["end_to_end"]
    print(
        f"{args.workload} seed={args.seed}: {len(res['queries'])} queries x {res['rounds']} "
        f"rounds, {res['attempted']} runs, {res['failed']} failed; wall_s={e2e['wall_s']:.3f} "
        f"query_tail_s is p{res['tail_percentile']} of {len(res['queries'])}"
    )
    if args.trace:
        rec = res["reconcile"]
        print(f"traced wall {rec['traced_wall_s']:.3f} s; warmup jobs {rec['warmup_jobs']}, "
              f"unattributed jobs {rec['unattributed_jobs']}")
        metrics = {n: {"value": res["per_layer"][n], "unit": u} for n, u in PER_LAYER_METRICS}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END_UNITS.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
