"""Query registry: the engine's declared operator surface.

Every operator from SURVEY.md §2.3 registers here with
  - a Spark builder ``(spark, sf_dir) -> DataFrame`` and
  - (when SQL-expressible) an equivalent ANSI/DuckDB oracle SQL string.

``__spark_entry__.py`` re-exports these for the driver's verify
harness. The decorator keeps the two sides adjacent in source so the
column aliases provably line up (the harness hashes values under
name-sorted columns).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query builder, optionally with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str, *a: Any, **kw: Any) -> DataFrame:
            from ..session import tune

            tune(spark)
            return fn(spark, sf_dir, *a, **kw)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


#: Keys whose ATTESTATION must (re-)run through the driver's bounded
#: 50-key window in the CURRENT round (round 14), so they sort FIRST:
#: every NEW round-14 key, plus any key whose oracle TEXT or plan
#: changed this round (the r8 rule: an oracle edit invalidates the
#: earlier green; the r9 convention re-attests plan changes too).
_ADDED_THIS_ROUND: frozenset[str] = frozenset(
    {
        # round-14 window: filled as keys land this round.
        # ADVICE r13 (medium): chunk assignment moved from raw
        # mod to Fibonacci bucketing (high-bits) — candidate set is
        # chunk-invariant (all chunk pairs cross-score) so values are
        # unchanged, but plan-change re-attests per the r9 convention:
        "embedding_neardup_lsh",
        "embedding_knn_graph_lsh",
        "embedding_knn_graph_incremental",
        "embedding_neardup_incremental",
        # + ADVICE r13 (low): stream_knn_graph_append now declares the
        # FULL posting-shard dependency in its OCC read_set
        "stream_knn_graph_append",
        # NEW r14 (verdict item 1): the daily-crawl composition
        "corpus_release_incremental",
        # NEW r14 (verdict item 4): two-stage ADC→exact re-rank; its
        # stage-1 shares _ivf_pq_serving with similarity_topk_ivf_pq,
        # which re-attests after that (plan-identical) factoring
        "similarity_topk_ivf_pq_refine",
        "similarity_topk_ivf_pq",
        # NEW r14 (verdict item 6): stage-0 web-corpus HTML extraction
        "text_html_extract",
        # NEW r14 (verdict item 8): HD-rotation OPQ with per-edge
        # recall-delta flags vs plain PQ and the exact ground truth
        "embedding_opq_adc_topk",
    }
)


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from . import analytics  # noqa: F401
    from . import relational  # noqa: F401
    from . import windows  # noqa: F401
    from . import text  # noqa: F401
    from . import dedup  # noqa: F401
    from . import similarity  # noqa: F401
    from . import udfs  # noqa: F401
    from . import ingest_queries  # noqa: F401
    from . import multimodal  # noqa: F401
    from . import streaming_queries  # noqa: F401
    from . import temporal  # noqa: F401
    from . import sketches  # noqa: F401
    from . import sql_features  # noqa: F401
    from . import corpus  # noqa: F401
    from . import features  # noqa: F401
    from . import spatial  # noqa: F401
    # experiments.py registers 10 keys (attribution_multi_touch,
    # expectations_audit, forecast_seasonal_naive, ab_test_zscore,
    # sample_weighted_priority, dp_noisy_counts, drift_psi,
    # anomaly_cusum_changepoint, event_transition_matrix,
    # dedup_splice_overlap) — registered late in round 5, front of the
    # round-6 window via _ADDED_THIS_ROUND
    from . import experiments  # noqa: F401
    from . import timeseries  # noqa: F401
    from . import insights  # noqa: F401
    from . import stattests  # noqa: F401
    from . import commerce  # noqa: F401
    # quant.py registers 7 keys (fifo_inventory_matching,
    # max_drawdown_monthly, time_decay_score, theil_sen_trend,
    # graph_degree_distribution, ab_test_ratio_delta_method,
    # diff_in_diff_estimator) — tier-1 backlog: the round-6 window is
    # full at 48, so their driver rows land at the start of round 7
    from . import quant  # noqa: F401
    # corpus_quality.py registers 4 keys (corpus_source_profile,
    # corpus_kl_divergence, token_fertility_by_lang,
    # dedup_minhash_recall_audit); funnel_window registers from
    # analytics.py — all five tier-1 backlog for round 7 with quant.py
    from . import corpus_quality  # noqa: F401
    # scale_patterns.py registers 2 keys (exact_median_histogram_2pass,
    # sample_consistent_multitable); spatial_dbscan_corepoints registers
    # from spatial.py — all round-7 backlog, as are the late-round
    # additions graph_label_propagation (dedup.py),
    # inventory_reorder_point (commerce.py), funnel_time_to_convert
    # (analytics.py), quantile_sketch_error_audit (sketches.py)
    from . import scale_patterns  # noqa: F401
    # scale_joins.py registers the round-7 join-pruning / storage-
    # maintenance surface (bloom-pruned join, DPP, z-order pruned
    # read-back, copy-on-write delete, small-file compaction)
    from . import scale_joins  # noqa: F401
    # release.py registers the round-8 composed end-to-end corpus
    # release key (clean → near-dedup → decontaminate → mix → shard →
    # pack as ONE plan with observe() telemetry)
    from . import release  # noqa: F401
    # lakehouse_meta.py registers the round-10 metadata-scaling +
    # transactional-MERGE surface (snapshot expiry, delta-log
    # checkpointing, MOR MERGE through one OCC commit)
    from . import lakehouse_meta  # noqa: F401
    # release_incremental.py registers the round-14 daily-crawl
    # composition (incremental clean → near-dedup → decon → mix →
    # pack-append as ONE OCC commit, attested ≡ one-shot rebuild)
    from . import release_incremental  # noqa: F401

    # Reorder for the driver's bounded attestation window (round 1 cut off
    # at exactly 50 entries): keys added/changed this round first (their
    # recorded rows are stale or absent), every other key after them in
    # registration order.  If the window truncates, it drops keys that
    # already hold a green row, never one waiting for attestation.
    ordered = sorted(QUERIES.items(), key=lambda kv: kv[0] not in _ADDED_THIS_ROUND)
    QUERIES.clear()
    QUERIES.update(ordered)
