"""Named query catalog — importing this package registers every query."""

from .base import REGISTRY, QuerySpec, register  # noqa: F401

# Registration order is rotated round-over-round so the correctness
# driver's first-50 sample accumulates hash coverage across the whole
# catalog (names never change, only order).
from . import text_queries  # noqa: F401,E402
from . import vector_queries  # noqa: F401,E402
from . import window_queries  # noqa: F401,E402
from . import source_queries  # noqa: F401,E402
from . import scalar_queries  # noqa: F401,E402
from . import relational  # noqa: F401,E402
from . import agg_queries  # noqa: F401,E402
from . import distribution_queries  # noqa: F401,E402
from . import evaluator_queries  # noqa: F401,E402
from . import flagship  # noqa: F401,E402
from . import generator_queries  # noqa: F401,E402
from . import multimodal_queries  # noqa: F401,E402
from . import regime_queries  # noqa: F401,E402
from . import event_queries  # noqa: F401,E402

# Round 14 window (73 names, asserted below; the driver samples the
# first ~50 by position). Priority (r13 VERDICT item 1): the SEVEN
# float-pinned oracles that were re-captured twice in r13 under host
# BLAS-dispatch drift and quantized+re-pinned in r14 — the driver's
# hash check is the ground truth that converts these self-certified
# pins back into verified ones; then every query whose code or oracle
# changed in r14 (regime-chain driver-twin + overlaps, walk memos,
# boilerplate window rewrite, text plan shapes, staged feeds, codec
# spread width), then the r8/r9-stale backfill (queries last
# driver-green in r8/r9 — the r13 window tail positions 51-73 that the
# ~50-sample never reached, plus the outside-window leftovers),
# topped up with the oldest r10-green rows.
_ROUND14_WINDOW = [
    # -- the 7 re-pinned (r13) + quantized (r14) float oracles
    "g11_timegan_train_generate",
    "g1_g3_latent_decode_generate",
    "g2_conditional_train_generate",
    "m1_vae_train_generate",
    "m9_regime_gan_generate",
    "m10_lstm_predictive_utility",
    "multimodal_phash_neardup",
    # -- code/oracle changed in r14
    "multimodal_cross_dedup_clusters",
    "g7_regime_garch_generate",
    "g8_regime_hybrid_generate",
    "stream_regime_generate_parity",
    "stream_funnel_parity",
    "g9_stitch_variants",
    "g9_stitch_summary",
    "g4_block_bootstrap",
    "g4_bootstrap_summary",
    "g5_grasynda",
    "g5_grasynda_summary",
    "boilerplate_ngram_coverage",
    "sequence_packing_bins",
    "sql_udtf_chunk_stats",
    # -- r8-stale (last driver-green r8)
    "variant_json_props_panel",
    "zipf_rank_frequency_panel",
    "zscore_normalization",
    # -- r9-stale backfill
    "a12_generator_summary",
    "a13_metric_map_mean",
    "a14_distinct_states",
    "a1_moment_panel",
    "a3_histogram_100",
    "a4_quantile_edges",
    "a5_state_frequency",
    "a7_transition_matrix",
    "a8_per_regime_stats",
    "a9_price_quantity_correlation",
    "anti_join_customers_without_orders",
    "asof_join_purchase_click",
    "bpe_tokenize_stats",
    "bpe_train_merges",
    "corpus_curation_pipeline",
    "d1_js_divergence",
    "d2_wasserstein",
    "d3_ks_statistic",
    "d7_moment_ratio_panel",
    "dedup_first_event_per_user",
    "flagship_series_panel",
    "funnel_view_click_purchase",
    "knn_recall_eval",
    "multimodal_jpeg_roundtrip_summary",
    "multimodal_video_frames_summary",
    "orders_customer_nation_enrich",
    "q10_returned_items",
    "q3_top_revenue_orders",
    "q5_region_nation_revenue",
    "q6_forecast_revenue",
    "s14_python_datasource_ticks",
    "semi_join_customers_with_orders",
    "stream_pq_encode_parity",
    "top_orders_by_totalprice",
    "union_dedup_events",
    # -- oldest r10-green top-up
    "approx_quantiles_scale_path",
    "cube_type_dow_stats",
    "d9_tolerance_v3_panel",
    "dedup_cc_large_star",
    "dedup_connected_components",
    "dedup_exact_fingerprint",
    "dedup_simhash",
    "lang_id_accuracy",
    "multimodal_codec_roundtrip",
    "multimodal_metadata_panel",
    "multimodal_resize_roundtrip",
    "pivot_type_dow_avg",
    "q1_pricing_summary",
    "rollup_region_status_revenue",
]
# The stated size is part of the priority-ordering contract (the
# correctness sample takes the first ~50 by POSITION, so believing a
# query is inside the sampled prefix requires the count to be right).
assert len(_ROUND14_WINDOW) == 73, len(_ROUND14_WINDOW)
assert len(set(_ROUND14_WINDOW)) == len(_ROUND14_WINDOW)


def _rotate(window: list[str]) -> None:
    """Reorder REGISTRY in place: ``window`` first, the rest unchanged."""
    missing = [n for n in window if n not in REGISTRY]
    if missing:  # names are stable; a typo here must fail loudly
        raise KeyError(f"rotation window names not in REGISTRY: {missing}")
    tail = [n for n in REGISTRY if n not in set(window)]
    snapshot = dict(REGISTRY)
    REGISTRY.clear()
    for n in window + tail:
        REGISTRY[n] = snapshot[n]


_rotate(_ROUND14_WINDOW)

__all__ = ["REGISTRY", "QuerySpec", "register"]
