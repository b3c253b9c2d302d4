"""Adversarial-data audits: the oracle parity sweep re-run over
perturbed copies of the test lake.

Each entry of :data:`CLASSES` is one hostile state a real lake reaches
(NULL holes, empty tables, replayed rows, scrambled layouts, schema
drift, ...), written as a per-table DuckDB ``SELECT`` over the clean
tables.  :func:`build` writes the perturbed copy, plus the ingest-rule
copy when the class names a rule; :func:`check` runs one registry key
over it:

- parity: Spark vs the DuckDB oracle on the perturbed copy (on the
  rule copy for the keys the rule covers);
- both-raise: for keys outside their exact-arithmetic domain, both
  engines must reject the data;
- invariance (layout classes only): Spark on the perturbed copy equals
  Spark on the clean copy.

``tests/test_null_robustness.py`` runs each class's pinned keys by
default and the full registry under ``-m slow``.

    python -m duckdb_hdfs_spark.audit {CLASS|all} [--sf DIR] [keys...]

The corrupt-file audit (``scripts/corrupt_audit.py``) has its own
fail-fast protocol and stays separate.
"""

from __future__ import annotations

import argparse
import os
import tempfile
import time
from dataclasses import dataclass
from typing import NamedTuple

from duckdb_hdfs_spark.oracle import (
    CompareResult,
    _canon,
    compare_frames,
    duckdb_connection,
    run_all,
)
from duckdb_hdfs_spark.sources.catalog import TABLES

#: per-table row key: what md5 gates, scrambles and part assignment hash
KEY = {
    "region": "r_regionkey", "nation": "n_nationkey",
    "customer": "c_custkey", "supplier": "s_suppkey",
    "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey * 8 + l_linenumber",
    "events": "event_id", "documents": "doc_id", "embeddings": "vec_id",
}


def gate(tag: str, key: str, n: int = 100) -> str:
    """A row's deterministic pseudo-random bucket in ``[0, n)``: md5 of
    ``tag`` and the row key, uncorrelated with any natural order."""
    return f"('0x' || substr(md5('{tag}' || CAST({key} AS VARCHAR)), 1, 4))::BIGINT % {n}"


def replace(table: str, **cols: str) -> str:
    """``SELECT *`` over ``table`` with the named columns replaced by
    expressions, column order kept."""
    body = ", ".join(f"{expr} AS {col}" for col, expr in cols.items())
    return f"SELECT * REPLACE ({body}) FROM {table}"


def every_table(sql: str) -> dict[str, str]:
    """``sql`` with ``{t}`` / ``{k}`` bound to each table and its key."""
    return {t: sql.format(t=t, k=KEY[t]) for t in TABLES}


@dataclass(frozen=True)
class Rule:
    """An ingest rule: ``keys`` (None: every key) are swept against the
    perturbed copy passed through ``select`` (per table; tables it does
    not name pass unchanged)."""

    keys: frozenset[str] | None
    select: dict[str, str]


@dataclass(frozen=True)
class AuditClass:
    #: per-table SELECT over the clean tables; tables it omits are copied
    perturb: dict[str, str]
    #: the keys the default test lane runs
    pinned: tuple[str, ...]
    rule: Rule | None = None
    #: keys that must raise on both engines instead of agreeing
    both_raise: frozenset[str] = frozenset()
    #: keys not checked at all
    skip: frozenset[str] = frozenset()
    #: None: no invariance check; otherwise the keys exempt from it
    invariance: frozenset[str] | None = None
    #: part files per table (rows md5-assigned to parts)
    parts: int = 1


def _null(col: str, pct: int, key: str) -> str:
    return f"CASE WHEN {gate(col, key)} < {pct} THEN NULL ELSE {col} END"


def _neg(col: str, tag: str, key: str) -> str:
    return f"CASE WHEN {gate(tag, key)} < 5 THEN -{col} ELSE {col} END"


def _one(table: str, col: str, anchor_col: str) -> str:
    """The row of ``table`` the anchor lineitem references."""
    return (
        f"SELECT * FROM {table} WHERE {col} = (SELECT {anchor_col} FROM "
        "lineitem LEFT JOIN orders ON o_orderkey = l_orderkey "
        "LEFT JOIN customer ON c_custkey = o_custkey "
        "LEFT JOIN nation ON n_nationkey = c_nationkey "
        "ORDER BY l_orderkey, l_linenumber LIMIT 1) LIMIT 1"
    )


def _nonfinite(col: str, key: str) -> str:
    # ``{key} % 3`` binds as written: for lineitem that is
    # l_orderkey * 8 + (l_linenumber % 3)
    return (
        f"CASE WHEN {gate('nf' + col, key)} < 2 THEN CASE {key} % 3 "
        "WHEN 0 THEN 'NaN'::DOUBLE WHEN 1 THEN 'Infinity'::DOUBLE "
        f"ELSE '-Infinity'::DOUBLE END ELSE {col} END"
    )


#: Java's full case mapping vs utf8proc's simple one (U+0130, final
#: sigma), NBSP/tab/ideographic space, a titlecase digraph, an emoji, CJK
NASTY = "İstanbul STRAßE ΣΟΣ café\xa0nbsp\ttab\u3000ideo ÀÉÎÕÜ ǅungla \U0001F600 中文"

_LINEITEM_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

#: naninf: table -> (gate key, DOUBLE measure columns)
_NANINF_MEASURES = {
    "customer": ("c_custkey", ["c_acctbal"]),
    "supplier": ("s_suppkey", ["s_acctbal"]),
    "part": ("p_partkey", ["p_retailprice"]),
    "orders": ("o_orderkey", ["o_totalprice"]),
    "lineitem": (KEY["lineitem"], list(_LINEITEM_MEASURES)),
    "events": ("event_id", ["value"]),
}

_TS_EDGES = (
    "WHEN 0 THEN TIMESTAMP '{0}' WHEN 1 THEN TIMESTAMP '{1}' "
    "WHEN 2 THEN TIMESTAMP '1969-12-31 23:59:59.999999' "
    "WHEN 3 THEN TIMESTAMP '{2}' ELSE TIMESTAMP '2038-01-19 03:14:08' END"
)
#: date edges sit inside the ns-representable range with headroom, so
#: derived values (date_trunc('month'), +3 MONTH) stay comparable
#: through the Arrow/pandas ns materialization of the harness
_DATE_EDGES = _TS_EDGES.format(
    "1677-10-02 00:12:43.145224", "2261-12-15 23:47:16.854775", "2000-02-29 12:00:00"
)


def _date_edge(col: str, key: str) -> str:
    return f"CASE WHEN {gate('dx', key)} < 2 THEN CASE {key} % 5 {_DATE_EDGES} ELSE {col} END"


CLASSES: dict[str, AuditClass] = {
    # 2% NULL measures, 1% NULL texts: asymmetric NULL handling in the
    # shingle/langid pipelines, rank machinery, avg-vs-count(*)
    # denominators, NULL payloads in Arrow workers, concat_ws
    "null": AuditClass(
        perturb={
            "lineitem": replace(
                "lineitem",
                **{c: _null(c, 2, "l_orderkey*10+l_linenumber") for c in _LINEITEM_MEASURES},
            ),
            "orders": replace("orders", o_totalprice=_null("o_totalprice", 2, "o_orderkey")),
            "events": replace("events", value=_null("value", 2, "event_id")),
            "documents": replace("documents", text=_null("text", 1, "doc_id")),
        },
        pinned=(
            "dedup_lsh_bucket_stats", "dedup_lsh_band_sweep", "dedup_minhash_lsh",
            "dedup_prefix_groups", "text_langid", "text_langid_metrics",
            "text_repetition", "stats_spearman_corr", "stats_kruskal_wallis",
            "stats_mann_whitney", "stats_ks_test", "layout_hilbert_tiles",
            "q1_pricing_summary", "win_running_total", "mm_binary_meta",
            "mm_decode_features", "mm_resize", "mm_frame_sample",
            "fs_read_csv_malformed", "text_dsir_weights",
        ),
    ),
    # 30-row tables: 1-row groups, broken referential integrity, quantile
    # corridors holding no element
    "tiny": AuditClass(
        perturb=every_table("SELECT * FROM {t} LIMIT 30"),
        pinned=(
            "stats_bh_fdr", "sql_lateral_join", "sketch_quantiles_approx",
            "stats_welch_ttest", "stats_anova_oneway", "stats_brown_forsythe",
            "ev_nelson_aalen", "stats_kendall_tau",
        ),
    ),
    # every tenth document gains NASTY: case-mapping divergence splits
    # tokens, shingles and digests unless fold_lower pre-translates
    "unicode": AuditClass(
        perturb={
            "documents": replace(
                "documents",
                text=f"CASE WHEN doc_id % 10 = 0 THEN text || ' {NASTY.replace(chr(39), '')}' "
                "ELSE text END",
            )
        },
        pinned=(
            "dedup_exact", "dedup_keep_best", "dedup_simhash", "dedup_winnowing",
            "text_fingerprint", "text_chunk_windows", "text_ngram_freq",
            "text_tfidf_topk", "text_token_stats", "bpe_pair_counts",
            "corpus_source_overlap",
        ),
    ),
    # 2% of documents empty / whitespace-only / one char / ~54k chars /
    # padded; 2% of event values 0, -0.0, ±1e12, 1e-12.  NaN/Inf are the
    # naninf class: the engines' NaN contracts differ, so they need a rule.
    "extreme": AuditClass(
        perturb={
            "documents": replace(
                "documents",
                text=f"CASE WHEN {gate('xt', 'doc_id')} < 2 THEN CASE doc_id % 5 "
                "WHEN 0 THEN '' WHEN 1 THEN ('  ' || chr(9) || chr(10) || '  ') "
                "WHEN 2 THEN 'x' WHEN 3 THEN repeat('lorem ipsum dolor sit amet ', 2000) "
                "ELSE ('  ' || text || '  ') END ELSE text END",
            ),
            "events": replace(
                "events",
                value=f"CASE WHEN {gate('xv', 'event_id')} < 2 THEN CASE event_id % 5 "
                "WHEN 0 THEN 0.0 WHEN 1 THEN -0.0 WHEN 2 THEN 1e12 WHEN 3 THEN -1e12 "
                "ELSE 1e-12 END ELSE value END",
            ),
        },
        pinned=(
            "ev_tumbling_counts", "ev_top_users", "ev_user_decile",
            "ev_linear_attribution", "win_moving_avg", "win_time_range_frame",
            "win_value_range_frame", "fs_compact_small_files", "fs_read_json_nested",
            "text_code_detection", "unpivot_event_metrics", "skew_salted_event_stats",
            "time_decay_engagement", "range_join_view_purchases",
            "streaming_windowed_counts", "streaming_sliding_counts",
            "streaming_session_windows", "streaming_static_enrich",
            "streaming_partitioned_sink", "streaming_complete_topk",
            # text keys exercised by the empty/whitespace/giant documents
            "text_token_stats", "text_quality", "dedup_minhash_lsh", "text_langid",
        ),
        # power-sum / decimal-product keys whose exact-arithmetic domain is
        # |value| < 1e12 BY THE 38-DIGIT DECIMAL CEILING — (18,6)² = (37,12)
        # and (18,6)×µs-gap = (38,6) are the widest exact configurations —
        # so a 1e12 value must be rejected IDENTICALLY by both engines
        # (parity in failure), never processed lossily.
        both_raise=frozenset(
            {"stats_bh_fdr", "stats_linear_regression", "ev_time_weighted_value"}
        ),
        # double-accumulation keys whose round-grain can no longer absorb
        # accumulation-order deltas at |total| ≥ 2^40 (ulp ≥ 1e-4 = the
        # round(4) grain) — documented magnitude bound.
        skip=frozenset({"streaming_user_totals"}),
    ),
    # 2% of documents carry U+000B, the one BMP codepoint Java regex \s
    # (Spark) and RE2 \s (DuckDB) disagree on: all spaces -> VT, one
    # space -> VT, or a trailing 'x' VT 'y'
    "ws": AuditClass(
        perturb={
            "documents": replace(
                "documents",
                text=f"CASE WHEN {gate('ws', 'doc_id')} < 2 THEN CASE doc_id % 3 "
                "WHEN 0 THEN replace(text, ' ', chr(11)) "
                "WHEN 1 THEN regexp_replace(text, ' ', chr(11)) "
                "ELSE (text || 'x' || chr(11) || 'y') END ELSE text END",
            )
        },
        pinned=(
            "text_token_stats", "text_langid", "text_fingerprint", "text_bpe_tokens",
            "text_tokenizer_fertility", "dedup_minhash_lsh", "pack_context_windows",
            "text_unigram_logprob",
        ),
    ),
    # every table empty, schema kept: global aggregates over nothing,
    # empty broadcasts, NULL sketch bounds, count(*) = 0 denominators
    "empty": AuditClass(
        perturb=every_table("SELECT * FROM {t} WHERE false"),
        pinned=(
            "sketch_kmv_distinct", "dedup_lsh_recall_eval", "orders_forecast_holt",
            "stats_theil_sen_slope", "emb_pca_project", "emb_whitening_check",
            "fs_write_parquet", "fs_partitioned_prune", "fs_compact_small_files",
            "fs_parquet_codecs", "rollup_sales", "cube_sales", "grouping_sets_sales",
            "grouping_id_sales", "streaming_left_outer_join",
            "streaming_session_timeout", "streaming_partitioned_sink",
        ),
    ),
    # 2% of events.ts at the ns-range edges, the last negative-epoch
    # microsecond, a leap day and the 32-bit rollover instant
    "ts_extreme": AuditClass(
        perturb={
            "events": replace(
                "events",
                ts=f"CASE WHEN {gate('tx', 'event_id')} < 2 THEN CASE event_id % 5 "
                + _TS_EDGES.format("1677-09-22 00:00:00", "2262-04-10 00:00:00", "2000-02-29 23:59:59")
                + " ELSE ts END",
            )
        },
        pinned=(
            "ev_tumbling_counts", "ev_sessionize", "ev_rolling_dau",
            "ev_inter_event_times", "ev_time_weighted_value", "ev_gap_filled_daily",
            "ev_cusum_changepoint", "asof_purchase_last_view", "time_decay_engagement",
            "streaming_windowed_counts",
        ),
    ),
    # every measure column one value table-wide, one language, one shared
    # embedding: zero variances, all-ties ranks, one occupied bucket
    "const": AuditClass(
        perturb={
            "events": replace("events", value="CAST(1.0 AS DOUBLE)"),
            "lineitem": replace(
                "lineitem",
                l_quantity="CAST(25.0 AS DOUBLE)", l_extendedprice="CAST(1000.0 AS DOUBLE)",
                l_discount="CAST(0.05 AS DOUBLE)", l_tax="CAST(0.02 AS DOUBLE)",
            ),
            "orders": replace("orders", o_totalprice="CAST(100000.0 AS DOUBLE)"),
            "customer": replace("customer", c_acctbal="CAST(1000.0 AS DOUBLE)"),
            "supplier": replace("supplier", s_acctbal="CAST(1000.0 AS DOUBLE)"),
            "part": replace(
                "part", p_size="CAST(10 AS INTEGER)", p_retailprice="CAST(500.0 AS DOUBLE)"
            ),
            "documents": replace("documents", lang="'en'"),
            "embeddings": replace(
                "embeddings",
                embedding="(SELECT embedding FROM embeddings ORDER BY vec_id LIMIT 1)",
            ),
        },
        pinned=(
            "stats_moments", "sim_norm_outliers", "stats_kruskal_wallis",
            "emb_pca_project", "emb_whitening_check",
        ),
    ),
    # every table ONE row, referentially consistent (the first lineitem,
    # its order, customer, nation, region, part and supplier), so joins
    # still produce their natural one-row results: n = 1 arithmetic
    "onerow": AuditClass(
        perturb={
            "lineitem": "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 1",
            "orders": _one("orders", "o_orderkey", "l_orderkey"),
            "customer": _one("customer", "c_custkey", "o_custkey"),
            "nation": _one("nation", "n_nationkey", "c_nationkey"),
            "region": _one("region", "r_regionkey", "n_regionkey"),
            "part": _one("part", "p_partkey", "l_partkey"),
            "supplier": _one("supplier", "s_suppkey", "l_suppkey"),
            "events": "SELECT * FROM events ORDER BY event_id LIMIT 1",
            "documents": "SELECT * FROM documents ORDER BY doc_id LIMIT 1",
            "embeddings": "SELECT * FROM embeddings ORDER BY vec_id LIMIT 1",
        },
        pinned=(
            "stats_mann_whitney", "stats_ks_test", "stats_bootstrap_ci",
            "stats_theil_sen_slope", "stats_anova_oneway", "stats_proportions_ztest",
            "stats_brown_forsythe", "stats_cramers_v", "emb_dim_variance",
        ),
    ),
    # every measure, text and embedding 100% NULL (keys, categories and
    # timestamps real): the payload extractor broke, the envelope flows
    "allnull": AuditClass(
        perturb={
            "events": replace(
                "events", value="CAST(NULL AS DOUBLE)", props="CAST(NULL AS VARCHAR)"
            ),
            "lineitem": replace(
                "lineitem", **{c: "CAST(NULL AS DOUBLE)" for c in _LINEITEM_MEASURES}
            ),
            "orders": replace("orders", o_totalprice="CAST(NULL AS DOUBLE)"),
            "customer": replace("customer", c_acctbal="CAST(NULL AS DOUBLE)"),
            "supplier": replace("supplier", s_acctbal="CAST(NULL AS DOUBLE)"),
            "part": replace("part", p_retailprice="CAST(NULL AS DOUBLE)"),
            "documents": replace("documents", text="CAST(NULL AS VARCHAR)"),
            "embeddings": replace("embeddings", embedding="CAST(NULL AS FLOAT[])"),
        },
        pinned=(
            "emb_kmeans_update", "emb_pca_project", "emb_whitening_check",
            "emb_label_centroid_cohesion", "emb_centroid_separation",
            "emb_dim_variance", "sim_embedding_norms", "sim_norm_outliers",
            "sql_higher_order_funcs", "sql_variant_type", "sketch_quantiles_approx",
            "text_ngram_freq", "orders_forecast_holt", "streaming_user_totals",
            "cdc_incremental_agg",
        ),
    ),
    # every table unioned with an md5-gated 10% of itself: exact full-row
    # replays, as an at-least-once ingest leaves them.  Twins are equal in
    # every column, so any tie-break between them is output-invariant.
    "dup": AuditClass(
        perturb=every_table(
            "SELECT * FROM {t} UNION ALL SELECT * FROM {t} WHERE "
            + gate("dup", "{k}", 10) + " = 0"
        ),
        pinned=(
            "q18_large_volume_cust", "sql_lateral_join", "cdc_incremental_agg",
            "streaming_cdc_apply", "streaming_late_event_drops",
            "corpus_perplexity_buckets",
        ),
        # KEY-IDENTITY operators: these treat doc_id/vec_id as the entity's
        # identity (candidate-pair enumeration, probe selection, centroid
        # seeding, codebook sampling), so a corpus carrying two rows of the
        # SAME id is malformed INPUT for them — the two engines' internal
        # grains (per-distinct-id vs per-row) legitimately disagree on
        # multiplicities, and win_nulls_ordering's two INDEPENDENT
        # row_number tie-breaks over identical twins cannot be made
        # cross-engine consistent by any formulation (no total order exists
        # between identical rows).  The production rule is REPLAY-DEDUPE AT
        # INGEST (dedup_exact / dropDuplicates on the key, this repo's own
        # operators): an in-operator dropDuplicates would instead pay one
        # extra full shuffle in EVERY identity operator at 100 TB.  SELECT
        # DISTINCT * removes exact replays and, because the twins are exact
        # full-row copies, restores key-unique data.
        rule=Rule(
            keys=frozenset({
                "dedup_embedding_cos", "dedup_minhash_est", "dedup_lsh_bucket_stats",
                "dedup_embedding_clusters", "dedup_winnowing",
                "dedup_embedding_threshold_sweep", "dedup_lsh_band_sweep",
                "dedup_shingle_sensitivity", "dedup_semdedup",
                "sim_knn_join", "sim_lsh_ann", "sim_ivf_ann", "sim_recall_eval",
                "emb_pq_codes", "sim_pq_adc_topk", "sim_knn_label_accuracy",
                "sim_ivf_probe_sweep", "sim_ivf_cell_stats", "sim_ivf_pq_topk",
                "emb_kmeans_update", "emb_gram_matrix", "emb_cluster_purity",
                "mm_decode_gif", "win_nulls_ordering",
            }),
            select=every_table("SELECT DISTINCT * FROM {t}"),
        ),
    ),
    # md5-gated 5% of money values sign-flipped (refunds, chargebacks):
    # log/sqrt domains, Benford digits, ratios crossing zero.
    # customer.c_acctbal already carries negatives in TPC-H.
    "negative": AuditClass(
        perturb={
            "lineitem": replace(
                "lineitem", l_extendedprice=_neg("l_extendedprice", "ng", KEY["lineitem"])
            ),
            "orders": replace("orders", o_totalprice=_neg("o_totalprice", "no", "o_orderkey")),
            "events": replace("events", value=_neg("value", "nv", "event_id")),
        },
        pinned=("sql_math_funcs", "dq_benford_digits"),
    ),
    # 2% of vectors truncated to 32 of 64 dims (crashed writer,
    # mid-migration re-embedding).  Ragged-tolerant keys ride dot_sql's
    # ragged NULL contract on the raw copy.
    "ragged": AuditClass(
        perturb={
            "embeddings": replace(
                "embeddings",
                embedding=f"CASE WHEN {gate('rg', 'vec_id')} < 2 "
                "THEN embedding[1:32] ELSE embedding END",
            )
        },
        pinned=(
            "sim_bruteforce_topk", "sim_embedding_norms", "emb_jl_project",
            "sim_ivf_pq_topk", "emb_dim_variance", "emb_whitening_check",
        ),
        # fixed-dimension operators — PQ/ADC subspace slicing,
        # per-dimension variance/centroid panels, whitening/PCA eigenbases,
        # IVF codebooks, purity assignment: a mixed-dim corpus is malformed
        # INPUT for them; the production rule is DIMENSION ENFORCEMENT AT
        # INGEST, and the rule copy is a genuinely reduced corpus, NOT the
        # clean data.
        rule=Rule(
            keys=frozenset({
                "emb_kmeans_update", "emb_pca_project", "dedup_semdedup",
                "sim_ivf_ann", "sim_recall_eval", "emb_pq_codes",
                "sim_pq_adc_topk", "sim_ivf_probe_sweep", "sim_ivf_cell_stats",
                "sim_ivf_pq_topk", "emb_whitening_check",
                "emb_label_centroid_cohesion", "emb_centroid_separation",
                "emb_dim_variance", "emb_cluster_purity",
            }),
            select={"embeddings": "SELECT * FROM embeddings WHERE len(embedding) = 64"},
        ),
    ),
    # 2% of o_orderdate / l_shipdate at the calendar edges
    "date_extreme": AuditClass(
        perturb={
            "orders": replace("orders", o_orderdate=_date_edge("o_orderdate", "o_orderkey")),
            "lineitem": replace("lineitem", l_shipdate=_date_edge("l_shipdate", "l_orderkey")),
        },
        pinned=(
            "sql_date_funcs", "orders_monthly_growth", "orders_seasonality_index",
            "orders_cohort_revenue", "stats_theil_sen_slope", "q4_order_priority",
        ),
    ),
    # 2% of events.props truncated / not JSON / empty / type-confused /
    # a valid empty object / an array where an object flows
    "json": AuditClass(
        perturb={
            "events": replace(
                "events",
                props=f"CASE WHEN {gate('js', 'event_id')} < 2 THEN CASE event_id % 6 "
                "WHEN 0 THEN '{\"k\": 1' WHEN 1 THEN 'not json at all' WHEN 2 THEN '' "
                "WHEN 3 THEN '{\"k\": \"str\"}' WHEN 4 THEN '{}' ELSE '[1, 2, 3]' END "
                "ELSE props END",
            )
        },
        pinned=("sql_try_cast", "sql_json_funcs", "sql_variant_type", "ev_json_props"),
    ),
    # md5-gated 2% NaN/+Inf/-Inf in every DOUBLE measure and in the first
    # component of 2% of vectors.  Spark and DuckDB handle non-finite
    # doubles under different ENGINE CONTRACTS (Spark's canonical NaN
    # groups as one value and sorts largest, CAST(NaN AS DECIMAL) is NULL
    # on Spark and raises on DuckDB, ±Inf sums depend on fold order), so
    # no operator-level formulation reconciles them.  The ingest rule
    # FINITE_MEASURES NULLs non-finite scalars (the NULL lane the null
    # class proves) and quarantines vectors with any non-finite component
    # (one NaN poisons every inner product); both are map-side
    # expressions, no shuffle, no state.
    "naninf": AuditClass(
        perturb={
            **{
                t: replace(t, **{c: _nonfinite(c, key) for c in cols})
                for t, (key, cols) in _NANINF_MEASURES.items()
            },
            "embeddings": (
                f"SELECT vec_id, label, CASE WHEN {gate('nfvec', 'vec_id')} < 2 THEN "
                "list_prepend(CASE vec_id % 3 WHEN 0 THEN 'NaN'::FLOAT "
                "WHEN 1 THEN 'Infinity'::FLOAT ELSE '-Infinity'::FLOAT END, "
                "embedding[2:]) ELSE embedding END AS embedding FROM embeddings"
            ),
        },
        pinned=(
            "q1_pricing_summary",       # lineitem measure sums (DECIMAL folds)
            "ev_value_histogram",       # value bucketing (NaN bucket = crash raw)
            "stats_quantiles",          # exact quantiles over value
            "stats_moments",            # co-moment machinery over measures
            "sim_norm_outliers",        # embedding L2 norms (vector quarantine)
            "dedup_embedding_cos",      # inner products (vector quarantine)
            "emb_dim_variance",         # per-dimension panels
            "orders_rfm_scores",        # o_totalprice monetary folds
            "dq_iqr_outliers",          # robust spread over measures
            "ev_anomaly_zscore",        # mean/std over value
        ),
        rule=Rule(
            keys=None,
            select={
                **{
                    t: replace(t, **{c: f"CASE WHEN isfinite({c}) THEN {c} ELSE NULL END" for c in cols})
                    for t, (_key, cols) in _NANINF_MEASURES.items()
                },
                "embeddings": "SELECT * FROM embeddings WHERE embedding IS NULL OR "
                "len(list_filter(embedding, x -> NOT isfinite(x))) = 0",
            },
        ),
    ),
    # every table in an md5 scramble of its row order (task-commit order,
    # compaction, row-group interleave): nothing in a result may depend on
    # it — first/any_value picks, sketch merge trees, double-sum order,
    # LIMIT without a total order
    "roworder": AuditClass(
        perturb=every_table("SELECT * FROM {t} ORDER BY md5('shuf' || CAST({k} AS VARCHAR))"),
        pinned=(
            "sketch_quantiles_approx",  # GK merge tree follows layout; bound must not
            "sketch_hll_distinct",      # HLL merge order
            "distinct_users_approx",    # HLL++ bound boolean
            "corpus_token_budget",      # grouped_cumsum range-bucket bounds
            "orders_rfm_scores",        # distributed_ntile bucketing
            "win_topk_per_group",       # WindowGroupLimit heap order
            "win_first_last",           # first/last REQUIRE explicit ordering
            "stats_spearman_corr",      # the full two-phase cumsum machinery
            "dedup_minhash_lsh",        # banded pipeline over scrambled docs
            "ev_sessionize",            # lag/cumsum over scrambled arrival
        ),
        invariance=frozenset(),
    ),
    # every table a directory of 4 part files, rows md5-assigned to parts
    # in their original order: results may not depend on how rows are
    # spread over files
    "filesplit": AuditClass(
        perturb={},
        parts=4,
        pinned=(
            "fs_read_parquet",          # the multi-file read path itself
            "fs_sql_path",              # direct-path SQL over a directory
            "fs_read_schema_merge",     # schema merge across parts
            "q1_pricing_summary",       # scan+agg over 4-way split fact
            "dedup_minhash_lsh",        # banded pipeline over split docs
            "sketch_quantiles_approx",  # GK merge across file partitions
            "corpus_token_budget",      # range-bucket cumsum over split corpus
            "streaming_windowed_counts",  # file-source stream from split input
        ),
        # keys whose CONTRACT is the physical file layout (enumerate / size /
        # whole-read the files): a multi-file copy is a different filesystem
        # state by definition, not the same table in a different layout.
        # tests/test_fs_layer.py covers them against their own layouts.
        skip=frozenset({
            "fs_ls",              # emits per-file name/size rows
            "fs_glob",            # enumerates the matched file set
            "fs_read_binary",     # whole-file byte read of ONE file
            "fs_describe_tables",  # per-table file size/metadata panel
            "fs_compact_small_files",  # its subject IS the file count
            "fs_parquet_codecs",  # writes/reads per-codec files it creates
        }),
        invariance=frozenset(),
    ),
    # every table gains a trailing string column, as a producer rollout
    # mid-migration leaves it: consumers reading by name are unaffected
    "schemadrift": AuditClass(
        perturb=every_table("SELECT *, 'drift-' || CAST({k} AS VARCHAR) AS _schema_drift FROM {t}"),
        pinned=(
            "fs_read_schema_merge",   # projects named columns: drift-invariant
            "q1_pricing_summary",
            "ev_sessionize",
            "dedup_minhash_lsh",
            "text_tfidf_topk",
            "cdc_merge_orders",
        ),
        # keys whose CONTRACT includes the physical schema or raw file
        # bytes: a widened file is legitimately different output for them
        # (they still must agree CROSS-ENGINE on the widened copy — parity
        # covers every key)
        invariance=frozenset({
            "fs_read_parquet",      # select-* read of the table
            "fs_read_binary",       # whole-file bytes (file content changed)
            "fs_describe_tables",   # schema/size metadata panel
            "fs_ls",                # file sizes changed
            "fs_glob",              # file sizes changed
            "fs_sql_path",          # direct-path select-*
            "fs_typed_roundtrip",   # roundtrips the full row shape
            "fs_write_parquet",     # rewrites what it read
            "fs_write_orc",
            "fs_write_roundtrip",
            "fs_read_orc",
            "fs_read_csv",
            "fs_read_csv_gzip",
            "fs_read_csv_malformed",
            "fs_read_json",
            "fs_read_json_nested",
            "fs_summarize_table",   # per-column summary panel gains a column
            "fs_parquet_codecs",
            "fs_compact_small_files",
            "fs_partitioned_prune",
            "fs_bucketed_join",
            "fs_sql_join_views",
        }),
    ),
}


class Dirs(NamedTuple):
    clean: str
    perturbed: str
    rule: str | None


def _copy(src: str, dst: str, selects: dict[str, str], parts: int = 1) -> str:
    """Write every table of ``src`` to ``dst`` through ``selects``."""
    os.makedirs(dst)
    con = duckdb_connection(src)
    try:
        for t in TABLES:
            sql = selects.get(t, f"SELECT * FROM {t}")
            if parts == 1:
                con.execute(f"COPY ({sql}) TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
                continue
            os.makedirs(f"{dst}/{t}.parquet")
            for i in range(parts):
                con.execute(
                    f"COPY (SELECT * FROM ({sql}) WHERE {gate('split', KEY[t], parts)} = {i}) "
                    f"TO '{dst}/{t}.parquet/part-{i:05d}.parquet' (FORMAT PARQUET)"
                )
    finally:
        con.close()
    return dst


def build(cls: str, sf_dir: str, dst: str) -> Dirs:
    """Write class ``cls``'s perturbed copy of ``sf_dir`` (and its rule
    copy) under ``dst``.  The copies are named after the class: the
    streaming keys stage their input under a temp path keyed by the
    data directory's name, so copies of different classes must not
    share one."""
    c = CLASSES[cls]
    perturbed = _copy(sf_dir, f"{dst}/{cls}", c.perturb, c.parts)
    rule = _copy(perturbed, f"{dst}/{cls}_rule", c.rule.select) if c.rule else None
    return Dirs(sf_dir, perturbed, rule)


def check(spark, cls: str, key: str, dirs: Dirs) -> list[CompareResult]:
    """Every check class ``cls`` makes of ``key``: the parity (or
    both-raise) result first, then the invariance result if any."""
    from duckdb_hdfs_spark.queries import load_all

    c, qd = CLASSES[cls], load_all()[key]
    if key in c.both_raise:
        raised = []
        con = duckdb_connection(dirs.perturbed)
        try:
            for side, run in (
                ("spark", lambda: qd.spark(spark, dirs.perturbed).collect()),
                ("duckdb", lambda: con.execute(qd.oracle).fetchall()),
            ):
                try:
                    run()
                except Exception:  # noqa: BLE001 — any rejection counts
                    raised.append(side)
        finally:
            con.close()
        ok = raised == ["spark", "duckdb"]
        return [CompareResult(key, ok, -1, -1, [] if ok else [f"expected both engines to raise; raised={raised}"])]
    ruled = c.rule is not None and (c.rule.keys is None or key in c.rule.keys)
    results = run_all(spark, dirs.rule if ruled else dirs.perturbed, names=[key])
    if c.invariance is not None and key not in c.invariance:
        # Spark on the clean copy plays the oracle
        name = f"{key}:invariance"
        try:
            results.append(compare_frames(name, *(
                _canon(qd.spark(spark, d).toPandas()) for d in (dirs.perturbed, dirs.clean)
            )))
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            results.append(CompareResult(name, False, -1, -1, [f"exception: {e!r:.500}"]))
    return results


def sweep_keys(cls: str, keys) -> list[str]:
    """``keys`` minus the ones class ``cls`` does not check."""
    return [k for k in keys if k not in CLASSES[cls].skip]


def main(argv: list[str] | None = None) -> int:
    from duckdb_hdfs_spark.queries import load_all

    ap = argparse.ArgumentParser(
        prog="python -m duckdb_hdfs_spark.audit",
        description="Run registry keys over adversarial copies of the test data.",
    )
    ap.add_argument("cls", metavar="CLASS|all", help=f"one of: {', '.join(CLASSES)}")
    ap.add_argument("--sf", default="/root/testdata/sf0.001", help="clean data directory")
    ap.add_argument("keys", nargs="*", help="registry keys (default: all)")
    args = ap.parse_args(argv)
    if args.cls != "all" and args.cls not in CLASSES:
        ap.error(f"unknown class {args.cls!r}")
    reg = load_all()
    unknown = [k for k in args.keys if k not in reg]
    if unknown:
        ap.error(f"unknown keys: {', '.join(unknown)}")

    spark, red = None, 0
    with tempfile.TemporaryDirectory(prefix="audit_") as tmp:
        for cls in CLASSES if args.cls == "all" else [args.cls]:
            keys = sweep_keys(cls, args.keys or reg)
            if not keys:
                print(f"FAIL {cls}: no key to check", flush=True)
                red += 1
                continue
            if spark is None:
                from duckdb_hdfs_spark.session import get_spark

                spark = get_spark("audit")
                spark.sparkContext.setLogLevel("ERROR")
            t0 = time.perf_counter()
            dirs = build(cls, args.sf, f"{tmp}/{cls}")
            bad = []
            for key in keys:
                bad += [r for r in check(spark, cls, key, dirs) if not r.ok]
            n_red = len({r.name.split(":")[0] for r in bad})
            print(f"{cls}: {len(keys) - n_red}/{len(keys)} green "
                  f"({time.perf_counter() - t0:.0f} s)", flush=True)
            for r in bad:
                print(f"FAIL {cls} {r.name} :: {str(r)[:400]}", flush=True)
            red += n_red
    return 1 if red else 0


if __name__ == "__main__":
    raise SystemExit(main())
