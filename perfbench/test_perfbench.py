"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The two end-to-end tests start the benchmark as a user does (a fresh
worker process with its own JVM) and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import tracing  # noqa: E402
import workloads as W  # noqa: E402
from run import END_TO_END_UNITS  # noqa: E402
from synthetic_datagen_spark.operators import REGISTRY  # noqa: E402



def bench(root: str, *args: str) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=root,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


def test_every_registered_query_is_in_exactly_one_family():
    families = W.assign(REGISTRY)
    names = [q for qs in families.values() for q in qs]
    assert sorted(names) == sorted(REGISTRY)
    assert all(families.values())


def test_coverage_guard_fails_on_a_missing_or_doubled_query(monkeypatch):
    modules, _ = W.FAMILIES["model_fit"]
    # io_stream already takes this query from event_queries
    monkeypatch.setitem(W.FAMILIES, "model_fit", (modules, ("stream_event_pattern_parity",)))
    with pytest.raises(W.CoverageError, match="stream_event_pattern_parity"):
        W.assign(REGISTRY)
    monkeypatch.setitem(W.FAMILIES, "model_fit", (modules[1:], ()))
    with pytest.raises(W.CoverageError, match="none"):
        W.assign(REGISTRY)


def test_driver_workloads_are_fixed_panels_permuted_by_the_seed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for wl in spec["workloads"]:
        rounds, warm = W.select(REGISTRY, wl["name"], seed=0)
        other = W.select(REGISTRY, wl["name"], seed=1)[0]
        assert len(rounds) == len(other) == W.ROUNDS.get(wl["name"], 1)
        for order in rounds + other:
            assert sorted(order) == sorted(W.PANELS[wl["name"]])
        assert rounds[0] != other[0]
        assert set(warm) <= set(rounds[0])
    assert W.select(REGISTRY, "fit_curate_stream", seed=0)[1]
    sql_rounds, sql_warm = W.select(REGISTRY, "sql_panel", seed=0)
    assert not sql_warm
    # each round of a multi-round panel has its own order
    assert len(sql_rounds) > 1 and sql_rounds[0] != sql_rounds[1]


def test_tail_is_the_maximum_when_the_percentile_would_not_be_a_tail():
    from worker import tail_percentile

    assert tail_percentile([float(i) for i in range(1, 18)]) == (17.0, 100)
    # 40 samples: the 30th has the last 10 beyond it
    assert tail_percentile([float(i) for i in range(1, 41)]) == (30.0, 75)


def test_every_query_has_an_oracle_backed_golden_digest():
    with open(os.path.join(HERE, "golden.json")) as fh:
        golden = json.load(fh)
    assert set(golden["sf0.01"]) == set(REGISTRY)
    assert {g["oracle"] for g in golden["sf0.01"].values()} == {"sql", "pinned"}


def test_corrupted_golden_digest_counts_as_failed(tmp_path):
    """A copy of the checkout whose golden digest for one query is wrong
    must report that query as failed."""
    root = str(tmp_path / "checkout")
    shutil.copytree(ROOT, root, ignore=shutil.ignore_patterns(
        ".git", ".perfbench", "spark-warehouse", "__pycache__"))
    path = os.path.join(root, "perfbench", "golden.json")
    with open(path) as fh:
        golden = json.load(fh)
    golden["sf0.001"]["q1_pricing_summary"]["digest"] = "0" * 32
    with open(path, "w") as fh:
        json.dump(golden, fh)
    out, text = bench(root, "--workload", "smoke", "--seed", "1", "--seconds", "100",
                      "--sf-dir", "perfbench/data/sf0.001")
    assert out["failed"] > 0 and out["failed"] / out["attempted"] > 0
    assert out["correct"] is False
    assert "FAILED cold q1_pricing_summary" in text


def test_traced_run_reconciles_with_the_event_log():
    common = ["--workload", "smoke", "--seed", "3", "--seconds", "100",
              "--sf-dir", "perfbench/data/sf0.001"]
    plain, _ = bench(ROOT, *common, "--trace", "0")
    traced, text = bench(ROOT, *common, "--trace", "1")
    assert plain["correct"] and traced["correct"], text
    assert {n: m["unit"] for n, m in plain["metrics"].items()} == END_TO_END_UNITS
    assert {n: m["unit"] for n, m in traced["metrics"].items()} == dict(tracing.PER_LAYER_METRICS)

    with open(os.path.join(ROOT, ".perfbench", "traces", "trace-smoke-3.json")) as fh:
        trace = json.load(fh)
    rec = trace["reconcile"]
    # per-window busy time adds up to the event log's busy time
    assert sum(rec["window_busy_s"]) == pytest.approx(rec["event_log_busy_s"], rel=0.02, abs=0.05)
    # jobs outside every query window happen only in the warmup
    assert rec["unattributed_jobs"] == 0
    assert rec["warmup_jobs"] > 0
    per_query = {}
    for w, busy in zip(rec["windows"], rec["window_busy_s"]):
        if w["kind"] == "cold":
            per_query[w["query"]] = busy
    assert set(per_query) == set(W.PANELS["smoke"])
    layer = trace["per_layer"]
    assert layer["spark.job_busy_s"] > 0 and layer["spark.jobs"] > 0
    assert layer["streaming.triggers"] > 0
    assert layer["functions.memo.misses"] > 0
    assert layer["generators.fit_s"] > 0
    spans = trace["spans"]
    assert spans and all({"name", "start", "end", "parent", "query"} <= set(s) for s in spans)
