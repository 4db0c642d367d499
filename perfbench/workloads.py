"""Query families, the runnable workloads built from them, and how a
run picks its queries.

Every ``REGISTRY`` query belongs to exactly one of four families, split
by the operator module that defines it (``assign`` fails loudly
otherwise):

* ``sql_analytics`` — relational, window, aggregate, scalar and
  distribution operators, the flagship panel and the batch event
  queries. Execution-bound: Catalyst plans, scans, shuffles and per-job
  floors. It is the bypass (predict no change) for fit, memo and stream
  work.
* ``model_fit`` — regime, generator and evaluator queries. Driver-bound:
  numpy fits, MLlib GMM iterations, the GA/sweep fan-out.
* ``corpus_curation`` — text, vector and multimodal queries: the
  session-memo families (LSH pairs, CC labels, pHash, SemDeDup, IVF/PQ
  fits) and Python-worker-heavy codecs.
* ``io_stream`` — source queries (CSV/ORC/JSONL round trips, small-file
  compaction, staged feeds, every ``availableNow`` stream) plus the two
  stream twins defined in ``event_queries``. The only write-heavy mix.

Each family is a runnable workload: one full pass over its queries.
Automated runs use two fixed panels instead (``PANELS``), because a
full family pass takes 50-140 s: ``sql_panel`` from ``sql_analytics``,
and ``fit_curate_stream`` from the other three families, chosen so one
run reaches every layer the traced run reports. The seed only permutes
the order in which a run's queries execute.
"""

from __future__ import annotations

import json
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))

# family -> (operator modules it owns, queries it takes from another
# family's module)
FAMILIES: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    "sql_analytics": (
        ("relational", "window_queries", "agg_queries", "scalar_queries",
         "distribution_queries", "flagship", "event_queries"),
        (),
    ),
    "model_fit": (("regime_queries", "generator_queries", "evaluator_queries"), ()),
    "corpus_curation": (("text_queries", "vector_queries", "multimodal_queries"), ()),
    "io_stream": (
        ("source_queries",),
        ("stream_event_pattern_parity", "stream_stream_interval_join_parity"),
    ),
}

# Fixed panels, so a run's query set never depends on the seed. The
# first two are the workloads automated runs use.
PANELS: dict[str, tuple[str, ...]] = {
    # relational joins and aggregates, windows, a rollup, a JSON scalar,
    # a distribution panel and a funnel: every sql_analytics module, no
    # fit, memo or stream
    "sql_panel": (
        "q1_pricing_summary", "q3_top_revenue_orders", "q5_region_nation_revenue",
        "q6_forecast_revenue", "q10_returned_items", "anti_join_customers_without_orders",
        "semi_join_customers_with_orders", "w1_log_returns", "w3_sliding_window_stats",
        "w4_rolling_volatility", "w6_autocorrelation_panel", "a3_histogram_100",
        "a4_quantile_edges", "rollup_region_status_revenue", "json_props_extract",
        "d1_js_divergence", "funnel_view_click_purchase",
    ),
    # the regime fit chain (GMM, Baum-Welch, Viterbi, GARCH) and the
    # regime GAN trainer on the shared regime-model cache, a walk memo
    # with its generator fit, a stateful stream, a PQ index fit, LSH
    # pairs with their connected components, a random sweep with
    # fitness fan-out, the predictive and spectral evaluators and an
    # ORC round trip
    "fit_curate_stream": (
        "g7_regime_garch_generate", "m9_regime_gan_generate", "g4_block_bootstrap",
        "stream_session_parity", "knn_pq", "embedding_dedup_clusters_scaled", "m16_random_sweep",
        "m11_predictive_utility", "d5_spectral_distance", "s11_orc_roundtrip_summary",
    ),
    # one query from each family, for the benchmark's own tests
    "smoke": (
        "q1_pricing_summary", "g4_block_bootstrap", "dedup_exact_fingerprint",
        "stream_session_parity",
    ),
}

# Panels that run several rounds. Their sub-second queries move with
# host contention, so a query's latency in a run is its median over the
# rounds: a burst that slows one round does not reach the total.
ROUNDS: dict[str, int] = {"sql_panel": 4}

WARMUP_QUERY = "flagship_series_panel"

# Queries whose first run builds a session memo or a fitted model that
# later runs reuse: bench.py's MEMO_BUILDERS plus the g4/g5/g9 walk
# memos and the g7/g8/m9 regime-model cache.
WALK_AND_REGIME_MEMOS = (
    "g4_block_bootstrap",
    "g5_grasynda",
    "g9_stitch_variants",
    "g7_regime_garch_generate",
    "g8_regime_hybrid_generate",
    "m9_regime_gan_generate",
)


class CoverageError(RuntimeError):
    """A registered query is in no family or in more than one."""


def assign(registry) -> dict[str, list[str]]:
    """Map every family to its sorted query names, failing loudly when a
    query is claimed by no family or by two."""
    moved = {q: f for f, (_, names) in FAMILIES.items() for q in names}
    unknown = sorted(set(moved) - set(registry))
    if unknown:
        raise CoverageError(f"families name unregistered queries: {unknown}")
    claims: dict[str, list[str]] = {q: [] for q in registry}
    for fam, (modules, names) in FAMILIES.items():
        for q, spec in registry.items():
            module = spec.build.__module__.rsplit(".", 1)[-1]
            if (module in modules and q not in moved) or q in names:
                claims[q].append(fam)
    bad = {q: fs for q, fs in claims.items() if len(fs) != 1}
    if bad:
        raise CoverageError(
            "every registered query must be in exactly one family: "
            + ", ".join(f"{q} -> {fs or 'none'}" for q, fs in sorted(bad.items()))
        )
    out: dict[str, list[str]] = {f: [] for f in FAMILIES}
    for q, (fam,) in claims.items():
        out[fam].append(q)
    return {f: sorted(qs) for f, qs in out.items()}


def workload_names() -> list[str]:
    return [*PANELS, *FAMILIES]


def memo_families() -> set[str]:
    import bench  # the repo's catalog bench, for its MEMO_BUILDERS list

    return set(bench.MEMO_BUILDERS) | set(WALK_AND_REGIME_MEMOS)


def select(registry, workload: str, seed: int) -> tuple[list[list[str]], list[str]]:
    """(rounds, warm queries) of one run, each in the seed's order.

    A panel runs its fixed queries, a family all of its queries. The
    first round is the cold pass; a workload in ``ROUNDS`` runs the same
    queries again in further rounds, each in its own order. The warm
    pass re-runs the memo-family queries among them; a workload with
    none of them (``sql_panel``) has no warm pass."""
    if workload in PANELS:
        queries = list(PANELS[workload])
        unknown = [q for q in queries if q not in registry]
        if unknown:
            raise ValueError(f"{workload} names unregistered queries: {unknown}")
    elif workload in FAMILIES:
        queries = assign(registry)[workload]
    else:
        raise ValueError(f"unknown workload {workload!r}; known: {workload_names()}")
    memos = memo_families()
    warm = sorted(q for q in queries if q in memos)
    rng = random.Random(seed)
    rounds = []
    for _ in range(ROUNDS.get(workload, 1)):
        order = sorted(queries)
        rng.shuffle(order)
        rounds.append(order)
    rng.shuffle(warm)
    return rounds, warm


def golden(scale: str) -> dict[str, str]:
    """Golden output digest per query at one scale dir, e.g. "sf0.01"
    (see capture.py)."""
    with open(os.path.join(HERE, "golden.json")) as fh:
        return {q: g["digest"] for q, g in json.load(fh)[scale].items()}
