"""Query registry: one named entry per SURVEY.md §2 operator.

Each query is a pair:

- a PySpark callable ``(spark, sf_dir) -> DataFrame`` (the engine path),
- optionally a DuckDB-runnable ANSI-SQL string (the oracle path).

The driver (``__spark_entry__.py``) runs both at sf0.01 and compares
row-count + schema + order-insensitive value hash. Discipline enforced
here (SURVEY.md §7 "hard parts"):

- alias EVERY computed column identically on both sides;
- round floating-point aggregates (ROUND_* constants);
- any LIMIT query is totally ordered (unique tie-break keys) so both
  engines pick the same rows;
- timestamps leave queries as formatted strings or DATEs, never raw
  timestamps, to sidestep tz/precision representation drift.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


#: Global registry, populated at import time by the query modules.
QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
):
    """Decorator: register a query callable under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=(fn.__doc__ or "")
        )
        return fn

    return deco


#: Queries whose bodies/oracles changed (or were born) this round, or
#: whose latest body has never had a driver row. The rotation
#: discipline (VERDICT r4/r7): a changed query needs a fresh driver
#: green even if an old row exists. This tuple is ENFORCED as the head
#: prefix of :data:`DRIVER_PRIORITY` by
#: tests/test_doc_counts.py::test_changed_this_round_leads_window —
#: ADVICE r8's fix for the round-8 failure where a promised rotation
#: silently never happened.
#:
#: Contents: the five round-16 body changes (pure physical rewrites
#: with digest-equal interleaved A/Bs and fresh sf0.01 oracle greens;
#: evidence under plans/r16/evidence/, write-up in OPTIMIZATION_r16.md),
#: then five later body changes, each oracle-green at sf0.01 (see
#: CHANGES.md). The sparse-TFIDF and k-means bodies changed again
#: since (df cap before the posting collect; ragged vectors fail).
CHANGED_THIS_ROUND: tuple[str, ...] = (
    # -- round-16 optimization-pass body changes (results identical;
    # each verified by an interleaved same-JVM A/B with collected-row
    # digests AND the sf0.01 oracle — see OPTIMIZATION_r16.md) --------
    "text_sparse_tfidf_cosine",  # posting self-join replaced by an
    #   in-array pairwise expansion of the df-capped posting lists
    "embed_kmeans_lloyd",  # assignment via broadcast centroid-ARRAY
    #   cross-join (N·k rows), not the per-coordinate pos-join
    "text_unigram_logprob",  # n_uni folded from the vocab count table
    "text_bigram_pmi",  # n_uni/n_big folded from their count tables
    "dedup_semantic_clusters",  # adaptive-k sizing count moved to the
    #   pre-fan-out frame (no full-width exchange just to count rows)
    # -- later body changes (results identical, sf0.01 oracle green) --
    "embed_ann_ivf",  # one batched IVF probe for both query vectors
    "text_bpe_train",  # each round's merge argmax applied as a literal
    "text_bpe_roundtrip",  # reads the learned table without an orderBy
    "text_wordpiece_train",  # lazy argmax is the only path
    "text_unigram_train",  # lazy argmax is the only path
    "dedup_minhash_lsh",  # verifies the memoized band candidates
    "dedup_cluster_cc",  # clusters pairs from the memoized candidates
    "dedup_cluster_keep_best",  # clusters pairs from the memoized candidates
    "dedup_cluster_incremental",  # pairs from the memoized candidates
    "dedup_minhash_accuracy",  # reads the memoized candidates, no own
    #   copy of the band self-join
)

#: Names promoted to the head of the registry. The driver's correctness
#: check covers the FIRST 50 registry entries per round; queries already
#: proven green in a prior round's CORRECTNESS_r{N}.json don't need the
#: slot again, so each round this list rotates (a) every
#: :data:`CHANGED_THIS_ROUND` query, then (b) the stalest prior greens
#: (``scripts/next_window.py --slots 50`` prints the staleness ranking
#: straight from the committed artifacts), into the window.
#:
#: Current window: the 15 CHANGED bodies + the 35 stalest prior greens
#: from `scripts/next_window.py --slots 50` — the full r8-era residue
#: (23 queries) and 12 r9-greens fill the 50 slots exactly. Five
#: r9-greens left the window when the dedup family joined it
#: (join_salted_skew, join_self_pairs, join_theta_range,
#: json_functions, limit_topk); they defer to the next rotation with
#: multimodal_binary_meta, multimodal_feature_extract,
#: pandas_grouped_agg_seam, pandas_scalar_iter_seam,
#: sink_hilbert_parquet and source_python_datasource.
DRIVER_PRIORITY: tuple[str, ...] = (
    *CHANGED_THIS_ROUND,
    # -- staleness refreshes: the full r8-era residue --------------------
    "embed_similarity_join",
    "event_activity_streaks",
    "event_attribution_last_touch",
    "event_cumulative_reach",
    "event_path_trigrams",
    "event_rfm_segmentation",
    "graph_degree_distribution",
    "join_lateral_topn",
    "join_range_lookup",
    "json_variant_type",
    "pipeline_temperature_mixture",
    "quality_iqr_fences",
    "scd2_apply_changes",
    "skyline_pareto_frontier",
    "sql_parameterized",
    "sql_pipe_syntax",
    "sql_udf_scalar",
    "string_collation_ci",
    "text_duplicated_ngram_coverage",
    "timeseries_holt_linear",
    "timeseries_linear_interpolate",
    "timeseries_seasonal_decompose",
    "window_rolling_distinct_users",
    # -- staleness refreshes: 12 of the r9-greens ------------------------
    "cast_coercion",
    "conditional_case",
    "datetime_functions",
    "dedup_exact",
    "dedup_exact_by_fingerprint",
    "embed_norms",
    "filter_comparison",
    "filter_in_between_like",
    "filter_null_logic",
    "join_broadcast_star",
    "join_bucketed_colocated",
    "join_cross",
)

def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side effect: fills QUERIES).

    Returns the registry with :data:`DRIVER_PRIORITY` names first (in
    that order), then every remaining query in module-import order.
    """
    from jubilant_garbanzo_spark.queries import (  # noqa: F401
        aggregates,
        analytics,
        graphs,
        joins,
        llm,
        pipeline,
        quality,
        relational,
        retrieval,
        setops,
        sources,
        streaming,
        tpch,
        windows,
    )

    unknown = [n for n in DRIVER_PRIORITY if n not in QUERIES]
    if unknown:
        # A typo here would silently drop the query from the driver's
        # 50-entry verification window — the exact failure the rotation
        # exists to prevent. Fail loudly instead.
        raise KeyError(f"DRIVER_PRIORITY names not in registry: {unknown}")
    head = {n: QUERIES[n] for n in DRIVER_PRIORITY}
    tail = {n: s for n, s in QUERIES.items() if n not in head}
    return {**head, **tail}
