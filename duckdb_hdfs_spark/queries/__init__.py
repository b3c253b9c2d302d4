"""Query registry.

Every operator in SURVEY.md §2 registers here as a ``QueryDef``:
a Spark implementation ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) a DuckDB oracle SQL string over the pre-registered
views ``region nation customer supplier part orders lineitem events
documents embeddings``.  The driver hash-compares the two at sf0.01;
``tests/`` run the same comparison at sf0.001.

Contract rules (driver compare is column-name-sorted value hash):
- alias every computed column identically on both sides;
- round floating aggregates identically on both sides (sums of
  doubles are order-sensitive; rounding makes them bit-stable);
- hash functions must be engine-portable: md5 hex (both engines
  produce identical lowercase hex) — never engine-native ``hash()``.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    spark: SparkQuery
    oracle: str | None = None  # DuckDB SQL; None → rows-only check
    headline: bool = False  # include in bench.py


REGISTRY: dict[str, QueryDef] = {}

# Registration order matters: the driver's CORRECTNESS harness checks the
# first 50 registry entries only.  Rounds 1-2 led with tpch/windows/events
# (48 already-green keys), starving §2.5-2.10 of driver coverage.  Lead with
# the LLM-pipeline surface and demote the already-proven OLAP modules to
# the tail; the fine-grained window placement is _DRIVER_PRIORITY below.
_QUERY_MODULES = (
    "duckdb_hdfs_spark.queries.dedup",
    "duckdb_hdfs_spark.queries.similarity",
    "duckdb_hdfs_spark.queries.text",
    "duckdb_hdfs_spark.queries.advanced",
    "duckdb_hdfs_spark.queries.sqlfuncs",
    "duckdb_hdfs_spark.queries.multimodal",
    "duckdb_hdfs_spark.queries.fslayer",
    "duckdb_hdfs_spark.queries.streaming_q",
    "duckdb_hdfs_spark.queries.events",
    "duckdb_hdfs_spark.queries.windows",
    "duckdb_hdfs_spark.queries.tpch",
    # round-3 additions — rotated into the driver window in round 4
    # via _DRIVER_PRIORITY below.
    "duckdb_hdfs_spark.queries.llmextra",
    "duckdb_hdfs_spark.queries.layout",
    "duckdb_hdfs_spark.queries.cdc",
    "duckdb_hdfs_spark.queries.sketches",
    # round-4 additions — outside this round's driver window (which is
    # allocated to the round-3 tail + timestamp re-verifies); locally
    # oracle-checked, rotate into the window next round.
    "duckdb_hdfs_spark.queries.curation",
    # round-5 additions
    "duckdb_hdfs_spark.queries.graph",
    "duckdb_hdfs_spark.queries.dq",
)

# Names forced to the FRONT of the registry (in this order), ahead of
# everything else, so they land inside the driver's 50-entry window.
# Keep this list at exactly <=50 names.  Round-14 allocation (the
# round-13 verdict's task #2, verbatim): every key REWRITTEN in the
# round-13 optimization pass leads (none of them landed in the r13
# window, so the rewrites were only builder-verified), then the keys
# this round's optimizations touch, then the window fills from the
# documented r7-stale pool (oldest-first).  All 50 verified green at
# driver-condition sf0.01 before rotation.
_DRIVER_PRIORITY = (
    # --- the 22 r13-rewritten keys (r13 verdict order) ---
    "dedup_lsh_recall_eval",
    "dedup_minhash_lsh",
    "dedup_lsh_band_sweep",
    "dedup_cc_clusters",
    "dedup_cc_size_histogram",
    "dedup_embedding_cos",
    "dedup_embedding_clusters",
    "dedup_embedding_threshold_sweep",
    "dedup_semdedup",
    "pipeline_corpus_release",
    "stats_quantiles",
    "stats_bootstrap_ci",
    "stats_kruskal_wallis",
    "emb_gram_matrix",
    "emb_matryoshka_recall",
    "sim_lsh_ann",
    "sim_ivf_probe_sweep",
    "sim_ann_filtered",
    "sim_knn_label_accuracy",
    "win_value_range_frame",
    "layout_range_partition_stats",
    "orders_rfm_scores",
    # --- round-14 optimization targets (this round's rewrites) ---
    "sim_recall_eval",
    "dedup_chain_capture_eval",
    "corpus_perplexity_buckets",
    "sim_mutual_knn_graph",
    "sim_ivf_pq_topk",
    "dedup_ngram_jaccard",
    "streaming_user_totals",
    "streaming_view_purchase_join",
    # --- fill from the r7-stale pool, oldest-first, minus the keys
    # --- already above ---
    "ev_linear_attribution",
    "ev_user_entropy",
    "ev_conversion_survival",
    "ev_bot_score_panel",
    "win_locf_ignore_nulls",
    "win_nulls_ordering",
    "corpus_source_overlap",
    "corpus_temperature_mix",
    "corpus_length_drift_by_source",
    "corpus_quality_dup_calibration",
    "corpus_shard_planner",
    "corpus_vocab_growth",
    "corpus_quality_rule_ablation",
    "dedup_pair_triangles",
    "dedup_shingle_sensitivity",
    "sim_ivf_cell_stats",
    "emb_jl_project",
    "emb_label_centroid_cohesion",
    "emb_centroid_separation",
    "emb_cluster_purity",
)

# Round-15+ rotation pool — stale re-verification oldest-first after
# any keys added that round.  The r7-stale pool is now fully drained;
# next the r8 window set (50 keys, CORRECTNESS_r08 order), then r9,
# etc.  The r14 window burned its stale-fill slots on the r13/r14
# rewrites by verdict order — re-verification freshness resumes once
# rewritten keys have a driver row.


def _reorder(reg: dict[str, QueryDef]) -> dict[str, QueryDef]:
    ordered: dict[str, QueryDef] = {}
    for name in _DRIVER_PRIORITY:
        if name in reg:
            ordered[name] = reg[name]
    for name, qd in reg.items():
        if name not in ordered:
            ordered[name] = qd
    return ordered


def query(
    name: str, oracle: str | None = None, headline: bool = False
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a Spark query (+ optional oracle SQL)."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(name=name, spark=fn, oracle=oracle, headline=headline)
        return fn

    return deco


def load_all() -> dict[str, QueryDef]:
    """Import every query module (idempotent) and return the registry,
    reordered so _DRIVER_PRIORITY names lead (driver 50-entry window)."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return _reorder(REGISTRY)
