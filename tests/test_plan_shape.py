"""Physical-plan-shape assertions (SURVEY.md §4/§5): the properties
that make the engine scale — pushdown reaching the parquet scan,
small dims broadcast, partial aggregation, and NO cartesian products
anywhere in the registry — checked on the optimized plans, not by
running the data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_hdfs_spark.queries import load_all

REGISTRY = load_all()


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


#: (formatted, optimized) plan strings per registry key — the three
#: registry-wide parametrized tests below each rebuilt every key's
#: DataFrame (including its eager-checkpoint construction jobs) just
#: to look at the SAME plan, ~2/3 of this file's 900 s wall (round
#: 14, verify-gate budget).  The cache builds each key once and every
#: shape assertion reads the same strings; assertions themselves are
#: unchanged — this dedupes plan RENDERING, not anything the tests
#: check.
#: Keyed on (name, sf_dir): a plan rendered over one data directory
#: must never answer for another.
_KEY_PLANS: dict[tuple[str, str], tuple[str, str]] = {}


def key_plans(name: str, spark, sf_dir: str) -> tuple[str, str]:
    key = (name, sf_dir)
    if key not in _KEY_PLANS:
        df = REGISTRY[name].spark(spark, sf_dir)
        qe = df._jdf.queryExecution()
        _KEY_PLANS[key] = (
            df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted"),
            qe.optimizedPlan().toString(),
        )
    return _KEY_PLANS[key]


# --------------------------------------------------------------------------
@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_cartesian_product(name, spark, sf_dir):
    """No registered query may plan a CartesianProduct — every join
    must ride an equi-key (shuffle/broadcast hash or sort-merge).
    A cartesian that is harmless at sf0.001 is a cluster-killer at
    100 TB."""
    plan = key_plans(name, spark, sf_dir)[0]
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


# --------------------------------------------------------------------------
def test_q6_filters_pushed_to_scan(spark, sf_dir):
    """Q6's date/discount/quantity predicates must reach the parquet
    reader (PushedFilters), and the scan must read only the four
    referenced columns (ReadSchema pruning)."""
    plan = plan_of(REGISTRY["q6_forecast_revenue"].spark(spark, sf_dir))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


def test_fs_read_parquet_prunes_columns(spark, sf_dir):
    plan = plan_of(REGISTRY["fs_read_parquet"].spark(spark, sf_dir))
    assert "Scan parquet" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema, "projection pruning failed: reading text col"


# --------------------------------------------------------------------------
@pytest.mark.parametrize("name", ["q3_shipping_priority", "q5_local_supplier_volume", "q10_returned_items"])
def test_dims_broadcast(name, spark, sf_dir):
    """Join-heavy TPC-H shapes must broadcast their dimension sides —
    no shuffle of the fact table onto a 25-row nation join."""
    plan = plan_of(REGISTRY[name].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"


def test_q1_partial_aggregation(spark, sf_dir):
    """Full-scan aggregation must combine map-side: two HashAggregate
    nodes (partial + final) so the shuffle carries groups, not rows."""
    df = REGISTRY["q1_pricing_summary"].spark(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2
    # codegen spans only materialize in the executed (AQE-final) plan,
    # rendered as "*(n)" stage markers on each codegen'd operator
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in executed, "scan/filter/partial-agg stage not codegen'd"
    assert "*(2)" in executed, "final-agg stage not codegen'd"


def test_minhash_candidates_are_bucket_bounded(spark, sf_dir):
    """LSH candidate pairs come from the salted cell enumeration over
    band-key buckets (one pass over the signature pipeline) — no join
    of any kind, and exactly one scan of the documents file."""
    plan = plan_of(REGISTRY["dedup_minhash_lsh"].spark(spark, sf_dir))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Aggregate" in plan
    # one scan node => one "Location:" entry in the node details
    assert plan.count("Location:") == 1, "documents scanned more than once"


def test_minhash_cell_enumeration_shuffle_budget(spark, sf_dir):
    """The fat-bucket cell partitioner must not add exchanges beyond
    the band-key window: the executed plan holds exactly THREE —
    signature groupBy(doc_id), the per-bucket count window on
    (band_idx, band_key), and the final pair distinct.  The cell
    groupBy's keys extend the window's partitioning keys, so Catalyst
    plans no fourth exchange for it — the property that keeps the
    hardening's cost at one extra shuffle, not two."""
    df = REGISTRY["dedup_minhash_lsh"].spark(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    n = final.count("Exchange hashpartitioning")
    assert n == 3, f"expected 3 exchanges (sig agg, band window, distinct): {n}"
    assert "Window" in final, "per-bucket chunk-count window missing"


@pytest.mark.parametrize("name", ["dedup_simhash_pairs", "dedup_winnowing"])
def test_pair_family_is_join_free_with_bounded_shuffles(name, spark, sf_dir):
    """The other two bucket-pair generators share the cell
    partitioner's discipline: NO join anywhere (simhash previously
    self-joined its checkpointed signatures), and exactly two
    exchanges — the per-doc signature/fingerprint aggregation and the
    per-bucket count window whose partitioning the cell groupBy and
    pair rollup both reuse."""
    df = REGISTRY[name].spark(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert "Join" not in final and "CartesianProduct" not in final
    n = final.count("Exchange hashpartitioning")
    assert n == 2, f"{name}: expected 2 exchanges, got {n}"
    assert "Window" in final, f"{name}: chunk-count window missing"


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "dedup_containment"])
def test_pair_scoring_is_bucket_bounded(name, spark, sf_dir):
    """Pair-scoring ops must draw candidates from the LSH band-bucket
    explode (an Aggregate over band keys), NOT a metadata-blocked
    self-join: (lang, source) blocks grow linearly with the corpus, so
    the old shape was O(block²) — at 100 TB one (en, web) block IS the
    corpus.  Structural pin: the bucket aggregation is in the plan and
    no scan reads the metadata columns at all (the joins attach
    per-doc arrays by doc_id only)."""
    plan = plan_of(REGISTRY[name].spark(spark, sf_dir))
    assert "Aggregate" in plan, f"{name}: no bucket aggregation in plan"
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "lang" not in line and "source" not in line, (
                f"{name}: metadata block key back in a scan: {line.strip()[:160]}"
            )


@pytest.mark.parametrize(
    "name,table",
    [
        ("q17_small_qty_revenue", "lineitem"),
        ("dedup_minhash_lsh", "documents"),
        ("ev_retention", "events"),
        ("q18_large_volume_cust", "lineitem"),
        ("q21_waiting_orders", "lineitem"),
    ],
)
def test_fact_table_scanned_once(name, table, spark, sf_dir):
    """Scalar-threshold shapes must not rescan the fact table for the
    scalar branch — a second 100 TB scan is the single most expensive
    plan regression."""
    import re

    plan = plan_of(REGISTRY[name].spark(spark, sf_dir))
    locs = re.findall(r"Location: InMemoryFileIndex \[([^\]]+)", plan)
    n = sum(1 for x in locs if f"{table}.parquet" in x)
    assert n == 1, f"{name}: {table} scanned {n}x"


@pytest.mark.parametrize("name", ["q11_supplier_value", "q15_top_supplier"])
def test_scalar_threshold_reuses_exchange(name, spark, sf_dir):
    """q11/q15 attach a global scalar threshold via a 1-row broadcast
    aggregate whose groupBy branch is IDENTICAL to the main branch —
    at runtime AQE replaces the duplicate with ReusedExchange, so the
    fact table is scanned and aggregated ONCE.  (A partition-less
    window would avoid the second logical scan but funnels all
    O(groups) rows through one task — the worse trade at scale.)
    Assert on the EXECUTED plan: exactly one surviving lineitem scan."""
    df = REGISTRY[name].spark(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # AQE renders "== Final Plan ==" followed by "== Initial Plan ==";
    # only the final section reflects what actually ran.
    final = executed.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, f"{name}: no exchange reuse at runtime"
    assert final.count("lineitem.parquet") <= 1, (
        f"{name}: fact scan not deduplicated in executed plan"
    )


def test_q22_threshold_branch_is_pruned(spark, sf_dir):
    """q22's scalar-threshold branch rescans customer, but that scan
    must be column-pruned to c_acctbal alone (a ~1% column read, map-
    side partial avg) — the price of not funneling the raw scan
    through a partition-less window."""
    import re

    plan = plan_of(REGISTRY["q22_acctbal_opportunity"].spark(spark, sf_dir))
    schemas = [
        s for loc, s in re.findall(
            r"Location: InMemoryFileIndex \[([^\]]+)[\s\S]*?ReadSchema: (\S+)", plan
        )
        if "customer.parquet" in loc
    ]
    assert len(schemas) == 2, f"expected 2 customer scans, got {len(schemas)}"
    assert any(
        s.count(",") == 0 and "c_acctbal" in s for s in schemas
    ), f"threshold branch not pruned to c_acctbal: {schemas}"


#: queries with a justified scan count above the default budget of 2
#: (self-join verify passes, multi-leg set ops, two-level ANN assign)
_SCAN_BUDGET_EXCEPTIONS = {
    "dedup_minhash_pairs": 3,   # candidates + wordset join per pair side
    "dedup_minhash_est": 3,     # candidates + signature join per pair side
    "dedup_ngram_jaccard": 3,   # candidates + 3-gram join per pair side
    "dedup_containment": 3,     # candidates + wordset join per pair side
    # sim_ivf_ann now holds the default budget of 2 (corpus assign +
    # probe assign): the codebook sample is checkpointed inside
    # ivf_candidates, so its scan no longer appears per-arm
    "sim_knn_join": 4,          # corpus + broadcast probes for scoring, plus
                                # two label-only scans (column-pruned to
                                # (vec_id,label) — no embedding read) that
                                # attach labels to the tiny winner set
    "sim_knn_label_accuracy": 4,  # same shape as sim_knn_join: corpus +
                                # broadcast probes for scoring, plus a
                                # label-only neighbor scan and a
                                # label-only truth scan (both pruned to
                                # (vec_id,label)) on the tiny winner set
    "emb_matryoshka_recall": 4,  # two brute_topk arms (full-dim +
                                # truncated), each scanning corpus +
                                # broadcast probes once
    "ev_conversion_survival": 3,  # views leg + purchases leg (the
                                # standard two-scan attribution shape)
                                # + the censoring-cutoff max(ts)
                                # branch, column-pruned to ts only
    "sql_set_ops": 4,           # two set-op legs x two branches
    "sim_recall_eval": 0,       # eval utility: inputs eagerly checkpointed
    "sim_ivf_probe_sweep": 0,   # eval utility: truth + all 3 nprobe arms
                                # eagerly checkpointed
    "sketch_hll_distinct": 3,   # audit query: per-type branch + sketch-union
                                # branch + global exact-distinct audit; the
                                # production form carries only the sketch
                                # column (one scan, ever)
    "text_tfidf_topk": 3,       # tf branch + df-from-tf branch + the N
                                # branch, which reads ZERO data columns
                                # (row-group metadata count) — it replaced
                                # a driver-side count() action that always
                                # ran but never showed in the plan
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_scan_budget(name, spark, sf_dir):
    """No query may scan any one table more than its budget (2 by
    default — one per self-join side; exceptions listed above).
    Catches reintroduced plan-reuse-as-result-reuse regressions."""
    import re
    from collections import Counter

    if name.startswith("streaming_"):
        pytest.skip("streaming drain: plan not comparable")
    plan = key_plans(name, spark, sf_dir)[0]
    locs = re.findall(r"Location: InMemoryFileIndex \[([^\]]+)", plan)
    counts = Counter(x.rsplit("/", 1)[1] for x in locs)
    budget = _SCAN_BUDGET_EXCEPTIONS.get(name, 2)
    over = {t: n for t, n in counts.items() if n > budget}
    assert not over, f"{name} exceeds scan budget {budget}: {over}"


def test_partition_pruning_on_partitioned_write(spark, sf_dir, tmp_path):
    """A filter on the partition column of a partitioned parquet
    layout must prune at planning time (PartitionFilters), reading
    only the matching directory — the property that turns a 100 TB
    date-partitioned table into a single-partition read."""
    from duckdb_hdfs_spark.sources.catalog import load_table

    out = f"file://{tmp_path}/orders_by_status"
    load_table(spark, sf_dir, "orders").write.partitionBy("o_orderstatus").parquet(out)
    df = (
        spark.read.parquet(out)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    plan = plan_of(df)
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "o_orderstatus" in pf, f"partition filter not pruned: {pf}"
    # the predicate lives ONLY in PartitionFilters — no data-filter list
    # (line absent entirely) or an empty one
    assert "PushedFilters: []" in plan or "PushedFilters" not in plan


def test_topk_is_take_ordered(spark, sf_dir):
    """Top-N queries must plan TakeOrderedAndProject — a global sort
    of the full result to keep 10 rows is wrong at any scale."""
    plan = plan_of(REGISTRY["q3_shipping_priority"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_ivf_centroids_are_take_ordered(spark, sf_dir):
    """The IVF centroid sample must plan TakeOrderedAndProject (bounded
    per-task heap), not a partition-less Window/global sort pushing the
    whole corpus through one task (the round-1/2 regression).  The
    sample is checkpointed inside ivf_candidates, so its plan is
    pinned on the codebook build itself; the search plan is then
    pinned to NOT re-derive the sample (2 scans: corpus + probes)."""
    from duckdb_hdfs_spark.operators.similarity import centroid_codebook

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert "TakeOrderedAndProject" in plan_of(centroid_codebook(emb, 16))
    plan = plan_of(REGISTRY["sim_ivf_ann"].spark(spark, sf_dir))
    assert plan.count("embeddings.parquet") <= 2


def _exchange_nodes(plan: str) -> int:
    """Count Exchange NODES in a formatted plan (each node renders as
    '(n) Exchange' once in the tree; substring-counting 'Exchange'
    double-counts the details section)."""
    import re

    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_repetition_is_map_only(spark, sf_dir):
    """Per-document repetition signals are pure map work — ZERO
    exchanges.  Any shuffle here is a regression (the operator's
    100 TB cost model is 'one scan, no data movement')."""
    plan = plan_of(REGISTRY["text_repetition"].spark(spark, sf_dir))
    assert _exchange_nodes(plan) == 0, "text_repetition must not shuffle"


def test_contamination_bench_is_broadcast(spark, sf_dir):
    """The benchmark gram set must broadcast (eval sets are tiny next
    to the corpus) and the source predicates must push to the scan —
    no sort-merge join of the full corpus gram explosion."""
    plan = plan_of(REGISTRY["text_contamination"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EqualTo(source,src0)" in plan, "bench filter not pushed"


def test_ann_filter_pushed_to_scan(spark, sf_dir):
    """Filtered ANN must apply the metadata predicate AT THE SCAN
    (shrinking the scored corpus) — not post-filter the score set."""
    plan = plan_of(REGISTRY["sim_ann_filtered"].spark(spark, sf_dir))
    assert "LessThan(label,3)" in plan, "label predicate not pushed to scan"


def test_quantize_single_shuffle(spark, sf_dir):
    """int8 quantization audit: all array math map-side, then ONE
    partially-aggregated shuffle on the label key."""
    plan = plan_of(REGISTRY["emb_int8_quantize"].spark(spark, sf_dir))
    assert _exchange_nodes(plan) == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_prefix_dedup_shuffle_bounded(spark, sf_dir):
    """Prefix-hash dedup: count(DISTINCT source) plans the standard
    two-phase distinct aggregate — at most two exchanges, both keyed
    on the 16-byte hash (never a row-level shuffle of the text)."""
    plan = plan_of(REGISTRY["dedup_prefix_groups"].spark(spark, sf_dir))
    assert _exchange_nodes(plan) <= 2
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "n_chars" not in read_schema and "lang" not in read_schema


def test_quality_filter_is_map_only(spark, sf_dir):
    """The composite keep/drop pass derives every signal from one
    token split in a single projection — ZERO exchanges."""
    plan = plan_of(REGISTRY["pipeline_quality_filter"].spark(spark, sf_dir))
    assert _exchange_nodes(plan) == 0


def test_kmeans_centroids_broadcast(spark, sf_dir):
    """The k-means update must broadcast the k centroids against the
    corpus (BroadcastNestedLoopJoin on the keyless codebook join) —
    never a shuffle join of the corpus — and must not plan a
    sort-merge.  Since round 8 the assignment is the shared map-side
    codebook argmax (operators/similarity.assign_nearest), so NO
    vec_id-keyed exchange may appear either (the old join +
    max-struct groupBy shuffled one row per vector)."""
    plan = plan_of(REGISTRY["emb_kmeans_update"].spark(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(vec_id" not in plan


#: queries allowed a global (partition-less) Window, each justified.
#: EMPTY since round 5: the last two holdouts (orders_rfm_scores'
#: ntile, win_running_total's cumsum) now run through the two-phase
#: distributed formulations in operators/ranks.py.
_GLOBAL_WINDOW_EXCEPTIONS: dict[str, str] = {}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_partitionless_window(name, spark, sf_dir):
    """No registered query may plan a partition-less Window over an
    unaggregated input — a global window funnels the ENTIRE input
    through one task, the canonical single-reducer scale bug.

    Detection (probe-verified renderings of the optimized plan):
    ``Window [exprs], [part], [order]`` = partitioned+ordered (ok);
    ``Window [exprs], [part]``          = partitioned (ok);
    ``Window [exprs], [order]``         = GLOBAL ordered (trailing
    group carries ASC/DESC — partition specs never do);
    ``Window [exprs]``                  = GLOBAL unordered scalar."""
    import re

    if name.startswith("streaming_"):
        pytest.skip("streaming drain: plan not comparable")
    if name in _GLOBAL_WINDOW_EXCEPTIONS:
        pytest.skip(f"justified: {_GLOBAL_WINDOW_EXCEPTIONS[name]}")
    opt = key_plans(name, spark, sf_dir)[1]
    for line in opt.splitlines():
        stripped = line.lstrip(" +-:").rstrip()
        if not stripped.startswith("Window "):
            continue
        groups = re.findall(r", \[([^\[\]]*)\]", stripped)
        is_global = len(groups) == 0 or (
            len(groups) == 1 and (" ASC" in groups[0] or " DESC" in groups[0])
        )
        assert not is_global, (
            f"{name}: partition-less Window in plan: {stripped[:160]}"
        )


def test_cdc_merge_is_join_free(spark, sf_dir):
    """The MERGE/upsert applies the batch via union + max_by — ONE
    hash-aggregate shuffle on the merge key plus the final tiny
    action rollup.  No join operator of any kind: a join-based MERGE
    would shuffle both inputs AND the output."""
    plan = plan_of(REGISTRY["cdc_merge_orders"].spark(spark, sf_dir))
    assert "Join" not in plan, "MERGE must be join-free (union + max_by)"
    assert _exchange_nodes(plan) <= 2
    assert plan.count("HashAggregate") >= 2  # partial + final on the key


def test_scd2_windows_share_one_sort(spark, sf_dir):
    """Both SCD2 windows (lag flag, running version sum) declare the
    same (custkey)/(date, key) partitioning+ordering, so the plan
    must contain exactly ONE Sort node feeding both WindowExecs —
    a second sort would double the operator's shuffle cost."""
    import re

    plan = plan_of(REGISTRY["cdc_scd2_priority_history"].spark(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1
    assert plan.count("Window") >= 1
    assert _exchange_nodes(plan) <= 2  # window shuffle + rollup shuffle


def test_span_dedup_reads_only_needed_columns(spark, sf_dir):
    """Span-dedup explodes 3-gram hashes from (doc_id, text) only —
    the scan must prune every other document column, and the span
    frequency aggregate must partial-aggregate before its shuffle."""
    plan = plan_of(REGISTRY["text_span_dedup"].spark(spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema and "n_chars" not in read_schema
    assert plan.count("HashAggregate") >= 2


def test_hll_sketches_partial_aggregate(spark, sf_dir):
    """HLL sketch aggregation must partial-aggregate map-side (a
    sketch per task, merged at the reducer — constant bytes per
    group) and the single-row audit join must broadcast, never
    cartesian."""
    plan = plan_of(REGISTRY["sketch_hll_distinct"].spark(spark, sf_dir))
    assert plan.count("ObjectHashAggregate") >= 2  # partial + final
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_heavy_hitter_verify_is_broadcast(spark, sf_dir):
    """The Misra-Gries exact-verify pass must broadcast the tiny
    candidate set against events — a shuffle join would move the full
    fact table to verify a few hundred keys."""
    plan = plan_of(REGISTRY["sketch_heavy_hitters"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --------------------------------------------------------------------------
def test_partitioned_read_prunes_partitions(spark, sf_dir):
    """fs_partitioned_prune's read-back filter on the hive partition
    column must become a PartitionFilter (directory pruning — the
    scan never lists non-matching event_type directories) and must
    NOT appear as a data filter: at 100 TB the difference is scanning
    one partition vs the whole lake."""
    plan = plan_of(REGISTRY["fs_partitioned_prune"].spark(spark, sf_dir))
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines, "no PartitionFilters in scan"
    assert any("event_type" in l and "purchase" in l for l in part_lines), (
        "partition filter on event_type=purchase not pushed: "
        + part_lines[0][:200]
    )


# --------------------------------------------------------------------------
def test_gram_matrix_is_join_free_single_scan(spark, sf_dir):
    """emb_gram_matrix must build the d(d+1)/2 products map-side from
    ONE embeddings scan — no self-join (the oracle's join is the
    semantic spec, not the plan) — and partial-aggregate before its
    only exchange."""
    plan = plan_of(REGISTRY["emb_gram_matrix"].spark(spark, sf_dir))
    assert "Join" not in plan, "gram matrix plans a join"
    assert plan.count("Location:") == 1, "gram matrix scans more than once"
    assert "partial" in plan.lower(), "no partial aggregation before shuffle"


# --------------------------------------------------------------------------
def test_bpe_topk_avoids_global_sort(spark, sf_dir):
    """bpe_pair_counts' top-20 must plan TakeOrderedAndProject
    (per-partition heaps + driver merge), never a global Sort of the
    whole pair vocabulary."""
    plan = plan_of(REGISTRY["bpe_pair_counts"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


# --------------------------------------------------------------------------
def test_rebalance_gated_on_volume(spark, sf_dir):
    """rebalance_cpu_heavy must be a NO-OP on a small input even when
    the scan is single-partition (round-3 regression: the exchange
    cost 22-50% on the headline bench), grade a mid-size input to a
    PROPORTIONAL slot count (round-7: all-or-nothing over-corrected —
    the sf0.1 documents scan carried ~0.85s of serial shingle+md5
    work the 4 MiB gate refused to spread), and cap a large input at
    the session's cores."""
    from duckdb_hdfs_spark.operators.rebalance import (
        BYTES_PER_SLOT,
        rebalance_cpu_heavy,
    )
    from duckdb_hdfs_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    before = docs.rdd.getNumPartitions()
    assert rebalance_cpu_heavy(docs).rdd.getNumPartitions() == before

    cores = spark.sparkContext.defaultParallelism
    # 2M rows estimate ≈ 50 MB ≫ cores × BYTES_PER_SLOT (768 KiB at
    # 32 cores) — comfortably past the cap with ~1/25 the rows the
    # former 50M-row frame paid to build (the sizing probe is
    # plan-only; round 14 verify-budget trim, same gate asserted)
    big = spark.range(0, 2_000_000, 1, 1).selectExpr(
        "id", "repeat('x', 16) AS text"
    )
    assert rebalance_cpu_heavy(big).rdd.getNumPartitions() == cores

    # graded middle: a single-partition input whose size estimate
    # grades to k slots, 2 <= k < cores, must repartition to ~k —
    # NOT all the way to cores (32 tasks of trivial work cost more
    # in scheduling than they recover; measured round 3)
    mid = spark.range(0, 20_000, 1, 1).selectExpr(
        "id", "repeat('x', 64) AS text"
    )
    est = int(mid._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    k = min(est // BYTES_PER_SLOT, cores)
    if 2 <= k < cores:  # guard: estimate heuristics may shift with Spark
        assert rebalance_cpu_heavy(mid).rdd.getNumPartitions() == k


# --------------------------------------------------------------------------
def _probe_sizes(spark) -> tuple[int, int]:
    """(cores, bytes): a single file of ``bytes`` plans more than
    ``cores / 2`` and at most ``cores`` byte-range splits — from the
    session's ``openCostInBytes`` / ``maxPartitionBytes``, so the
    probe tests hold on any core count."""
    cores = spark.sparkContext.defaultParallelism
    if cores < 2:
        pytest.skip("no split count lies in (cores/2, cores] below 2 cores")
    conf = spark._jsparkSession.sessionState().conf()
    split = min(conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes())
    return cores, (cores // 2) * split + split // 2


def _random_parquet(path, size: int, row_groups: int) -> None:
    """~``size`` bytes of incompressible rows in ``row_groups`` groups."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(7)
    n = size // 1024
    blobs = [rng.randbytes(1016) for _ in range(n)]
    table = pa.table({"id": list(range(n)), "blob": blobs})
    pq.write_table(
        table, path, row_group_size=n // row_groups,
        compression="none", use_dictionary=False,
    )


@pytest.fixture()
def footer_reads(monkeypatch):
    """Count the rebalance probe's footer reads."""
    from duckdb_hdfs_spark.operators import rebalance

    paths: list[str] = []
    real = rebalance._row_groups

    def counted(df, path):
        paths.append(path)
        return real(df, path)

    monkeypatch.setattr(rebalance, "_row_groups", counted)
    return paths


def _splits_in_probe_band(df, cores: int) -> int:
    s = df.rdd.getNumPartitions()
    assert cores // 2 < s <= cores, f"fixture planned {s} splits on {cores} cores"
    return s


def test_rebalance_counts_row_carrying_splits(spark, tmp_path, footer_reads):
    """A single-row-group parquet file that plans more than cores/2
    byte-range splits carries its rows in ONE of them: the footer probe
    bounds the split count by the row groups and the frame is graded
    like a one-split scan.  The same rows in at least ``cores`` row
    groups already spread over the splits and are left alone."""
    from duckdb_hdfs_spark.operators.rebalance import (
        BYTES_PER_SLOT,
        rebalance_cpu_heavy,
    )

    cores, size = _probe_sizes(spark)
    one, many = tmp_path / "one.parquet", tmp_path / "many.parquet"
    _random_parquet(one, size, 1)
    _random_parquet(many, size, cores)

    df = spark.read.parquet(str(one))
    _splits_in_probe_band(df, cores)
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    slots = min(est // BYTES_PER_SLOT, cores)
    assert slots >= 2
    assert f"RoundRobinPartitioning({slots})" in plan_of(rebalance_cpu_heavy(df))
    assert len(footer_reads) == 1

    df = spark.read.parquet(str(many))
    _splits_in_probe_band(df, cores)
    assert rebalance_cpu_heavy(df) is df
    assert len(footer_reads) == 2


def test_rebalance_probe_reads_no_footer_it_cannot_use(
    spark, sf_dir, tmp_path, footer_reads
):
    """Inputs the footer probe cannot bound keep today's answer with no
    footer read: a CSV file, and more parquet files than cores; each
    plans between cores/2 and cores splits and grades to 2 or more
    slots.  A frame whose splits already pass the guard, and a frame
    that grades to one slot, read no footer either."""
    from duckdb_hdfs_spark.operators.rebalance import (
        BYTES_PER_SLOT,
        rebalance_cpu_heavy,
    )
    from duckdb_hdfs_spark.sources.catalog import load_table

    cores, size = _probe_sizes(spark)
    csv = tmp_path / "rows.csv"
    line = "x" * 1023 + "\n"
    csv.write_text(line * (size // len(line)))
    df = spark.read.schema("v string").csv(str(csv))
    _splits_in_probe_band(df, cores)
    assert rebalance_cpu_heavy(df) is df

    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = tmp_path / "parts"
    parts.mkdir()
    for i in range(cores + 1):
        _random_parquet(parts / f"part-{i:05d}.parquet", BYTES_PER_SLOT, 1)
    df = spark.read.parquet(str(parts))
    _splits_in_probe_band(df, cores)
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est >= 2 * BYTES_PER_SLOT
    assert rebalance_cpu_heavy(df) is df

    docs = load_table(spark, sf_dir, "documents").select("text")
    rebalance_cpu_heavy(docs)
    assert footer_reads == []

    one = tmp_path / "one.parquet"
    _random_parquet(one, size, 1)
    df = spark.read.parquet(str(one))
    _splits_in_probe_band(df, cores)
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert rebalance_cpu_heavy(df, bytes_per_slot=est) is df
    assert footer_reads == []


def test_typed_roundtrip_writes_one_file_per_slot(spark, sf_dir):
    """fs_typed_roundtrip's write runs on the rebalanced slots: at the
    test scale factor it writes more than one part file whenever
    lineitem's nine source columns grade to two or more slots."""
    import glob
    import os

    from duckdb_hdfs_spark.operators.rebalance import BYTES_PER_SLOT
    from duckdb_hdfs_spark.sources.fs import _SCRATCH
    from duckdb_hdfs_spark.sources.catalog import load_table

    src = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate",
        "l_quantity", "l_discount", "l_returnflag", "l_linestatus", "l_tax",
    )
    est = int(src._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    slots = min(est // BYTES_PER_SLOT, spark.sparkContext.defaultParallelism)
    if slots < 2:
        pytest.skip(f"lineitem grades to {slots} slot here")
    REGISTRY["fs_typed_roundtrip"].spark(spark, sf_dir)
    parts = glob.glob(os.path.join(_SCRATCH, "typed_roundtrip", "part-*.parquet"))
    assert len(parts) > 1


# --------------------------------------------------------------------------
def test_ivf_cell_assignment_is_map_side(spark, sf_dir):
    """IVF corpus cell assignment must be a map-side expression over
    the broadcast centroid array — never a shuffle of the corpus on
    its own key to window-argmax the nearest cell (the round-3 shape
    moved N x n_cells scored rows through an Exchange).  The only
    exchanges allowed are probe_id-keyed (the bounded top-k merge)."""
    plan = plan_of(REGISTRY["sim_ivf_ann"].spark(spark, sf_dir))
    assert "hashpartitioning(vec_id" not in plan


# --------------------------------------------------------------------------
def test_quality_resample_is_map_only(spark, sf_dir):
    """sample_quality_resample is a pure per-row filter — ZERO
    exchanges: the quality score and the md5-uniform draw are row
    expressions; nothing aggregates or joins."""
    plan = plan_of(REGISTRY["sample_quality_resample"].spark(spark, sf_dir))
    assert _exchange_nodes(plan) == 0


def test_token_entropy_single_scan_two_shuffles(spark, sf_dir):
    """text_token_entropy reads the corpus once and shuffles twice
    ((doc,token) partial-agg, then per-doc agg) — no joins, no
    corpus-global state."""
    plan = plan_of(REGISTRY["text_token_entropy"].spark(spark, sf_dir))
    assert plan.count("Location:") == 1
    assert _exchange_nodes(plan) <= 2
    assert "Join" not in plan


def test_jl_projection_is_single_scan_no_join(spark, sf_dir):
    """emb_jl_project compiles the 16×64 sign matrix into literal
    map-side folds: one embeddings scan, no join, only the bounded
    per-label aggregate shuffle."""
    plan = plan_of(REGISTRY["emb_jl_project"].spark(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Location:") == 1
    assert _exchange_nodes(plan) == 1


def test_centroid_cohesion_broadcasts_centroids(spark, sf_dir):
    """The (labels × 64) centroid matrix must broadcast back onto the
    corpus — a shuffle join would move the corpus to meet a
    KB-sized build side."""
    plan = plan_of(REGISTRY["emb_label_centroid_cohesion"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_snapshot_at_is_join_free(spark, sf_dir):
    """cdc_snapshot_at reconstructs state via union + max_by — no
    equi-join of log against snapshot; the only join is the 1-row
    broadcast snapshot-time reference."""
    plan = plan_of(REGISTRY["cdc_snapshot_at"].spark(spark, sf_dir))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final max_by


def test_token_budget_window_is_bucket_partitioned(spark, sf_dir):
    """corpus_token_budget's cumulative window must be partitioned by
    (source, range-bucket), never by source alone — a source-only
    partition serializes ~1/n_sources of the corpus through one task
    (source cardinality is ~5 at every SF)."""
    df = REGISTRY["corpus_token_budget"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    windows = [
        l.lstrip(" +-:") for l in opt.splitlines()
        if l.lstrip(" +-:").startswith("Window ")
    ]
    assert windows, "no Window in plan"
    for w in windows:
        assert "__bkt" in w, f"window not bucket-partitioned: {w[:140]}"


def test_unigram_logprob_single_corpus_scan_in_plan(spark, sf_dir):
    """text_unigram_logprob's main plan tokenizes the corpus exactly
    once; the vocab + total branches read the checkpointed
    vocabulary-sized aggregate (Scan ExistingRDD), never re-scan the
    parquet (the naive 3-branch plan re-tokenized the corpus 3x)."""
    plan = plan_of(REGISTRY["text_unigram_logprob"].spark(spark, sf_dir))
    assert plan.count("Location:") == 1


# --------------------------------------------------------------------------
def test_pq_encoding_is_map_side(spark, sf_dir):
    """PQ code assignment must be a map-side expression over the
    broadcast codebook — no hashpartitioning of the corpus on its own
    key (the sim_ivf_ann rule applied to encoding); the only exchange
    allowed is the bounded TakeOrdered codebook sample."""
    plan = plan_of(REGISTRY["emb_pq_codes"].spark(spark, sf_dir))
    assert "hashpartitioning(vec_id" not in plan


# --------------------------------------------------------------------------
def test_value_range_frame_window_is_bucketed(spark, sf_dir):
    """win_value_range_frame's windows must partition on the RANGE
    BUCKET as well as event_type — a bare event_type window spec over
    the data stream would re-introduce the type-cardinality
    parallelism cap (round 7's halo `_vbkt` pin, re-targeted at round
    14's cumulative decomposition: the carrier cumulants `_c`/`_s`/`_d`
    must aggregate under a `__bkt`-partitioned window).  The NULL-peer
    pass is a grouped aggregate, not a window.  grouped_cumsum's
    offsets window (over the `__tot` totals, ≤ n_ranges rows per group
    by construction) is the one documented bare-group window and is
    exempt."""
    import re

    opt = (
        REGISTRY["win_value_range_frame"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # (window function, "partition and order exprs, ") per window spec
    specs = re.findall(r"(\S+) windowspecdefinition\((.*?)specifiedwindowframe", opt)
    assert specs, "no window in plan"
    assert any("__tot" in fn for fn, _ in specs), "no offsets window in plan"
    carrier = [fn for fn, _ in specs if re.search(r"\(_[csd]#", fn)]
    assert carrier, "no cumulative carrier window in plan"
    for fn, args in specs:
        if "__tot" in fn:
            continue
        partition = [
            a for a in args.split(", ") if a and " ASC " not in a and " DESC " not in a
        ]
        assert any(a.startswith("__bkt#") for a in partition), (
            f"window not range-bucketed: {fn} over ({args.strip(', ')})"
        )


# --------------------------------------------------------------------------
def test_ev_top_users_window_group_limit(spark, sf_dir):
    """ev_top_users' ``row_number() <= 3`` filter must trigger
    Spark's InferWindowGroupLimit rewrite: a WindowGroupLimit
    PARTIAL (bounded per-group top-k heap) below the event_type
    exchange, so the low-cardinality type key never funnels the full
    per-user aggregate through its window tasks (round 7)."""
    df = REGISTRY["ev_top_users"].spark(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in final, "rank-limit pushdown missing"
    assert "Partial" in final.split("WindowGroupLimit")[-1].splitlines()[0] or \
        final.count("WindowGroupLimit") >= 2, (
        "no partial (pre-shuffle) WindowGroupLimit in the executed plan"
    )


# --------------------------------------------------------------------------
def test_brute_topk_window_group_limit(spark, sf_dir):
    """The per-probe top-k (operators.similarity._topk_merge) relies
    on Spark's InferWindowGroupLimit rewrite: the executed plan must
    hold a WindowGroupLimit pair (Partial below the probe exchange,
    Final above), so the shuffle carries tasks x probes x k rows —
    never the N x P score set (round 7)."""
    df = REGISTRY["sim_bruteforce_topk"].spark(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert final.count("WindowGroupLimit") >= 2, (
        "rank-limit pushdown (partial+final) missing from the top-k plan"
    )


# --------------------------------------------------------------------------
def test_semdedup_assignment_is_map_side(spark, sf_dir):
    """dedup_semdedup's cell assignment must stay a map-side
    broadcast-codebook argmax (the sim_ivf_ann contract: zero
    exchanges before the pair stage), and the full plan may shuffle
    the corpus on vec_id at most ONCE — the verdict attach, which is
    corpus-grain by nature (the dropped set is ~half the corpus in
    published SemDeDup runs, so broadcasting it is NOT the scale
    plan; one keyed shuffle is)."""
    from duckdb_hdfs_spark.functions.vectors import norm
    from duckdb_hdfs_spark.operators.similarity import (
        assign_nearest,
        centroid_codebook,
    )
    from duckdb_hdfs_spark.queries._helpers import _t

    emb = _t(spark, sf_dir, "embeddings")
    assign = assign_nearest(
        emb.select("vec_id", F.col("embedding").alias("e"),
                   norm(F.col("embedding")).alias("n")),
        centroid_codebook(emb, 8), "e", "n", top=1,
    )
    # the codebook's BroadcastExchange is the design; what must NOT
    # appear is any shuffle of the corpus
    aplan = plan_of(assign)
    assert "Exchange hashpartitioning" not in aplan
    assert "Exchange rangepartitioning" not in aplan

    plan = plan_of(REGISTRY["dedup_semdedup"].spark(spark, sf_dir))
    assert plan.count("hashpartitioning(vec_id") <= 2  # one join's sides
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
def test_ivfpq_all_joins_broadcast(spark, sf_dir):
    """sim_ivf_pq_topk computes cells AND codes in ONE fused corpus
    scan, so every join in the plan is BROADCAST: the P x nprobe
    routing attach on the cell column plus the 8 ADC lookups against
    the P x 16 distance tables (all tiny by construction).  The
    two-scan formulation this replaced needed a vec_id-keyed shuffle
    to re-join codes to candidates — the fused plan has NO
    corpus-keyed Exchange and exactly one embeddings file scan."""
    plan = plan_of(REGISTRY["sim_ivf_pq_topk"].spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 8  # the ADC lookups
    assert plan.count("hashpartitioning(vec_id") == 0  # fused: no re-join
    assert plan.count("embeddings.parquet") <= 1  # one corpus scan


# --------------------------------------------------------------------------
@pytest.mark.parametrize(
    "name,max_scans",
    [
        ("text_gopher_rules", 1),       # one token split feeds every rule
        ("layout_hilbert_tiles", 1),    # map-side key + one tile group-by
        ("stats_bootstrap_ci", 2),      # replicate arm + point-mean arm
        ("ev_cusum_changepoint", 1),    # day panel checkpointed, 0 live scans
        ("stats_kruskal_wallis", 1),    # (value, group) panel checkpointed
        ("corpus_perplexity_buckets", 1),  # lang rides the bigram group-bys
        ("sketch_kmv_distinct", 2),     # sketch arm + exact-audit arm
        ("fs_write_orc", 1),            # one read-back scan (orc)
        ("mm_image_channel_stats", 1),  # one decode pass, one rollup
        ("ev_abtest_srm", 1),           # one user-grain shuffle
        ("stats_anova_oneway", 1),      # one panel shuffle, 3-row fold
        ("stats_proportions_ztest", 1), # one user-grain shuffle
        ("ev_nelson_aalen", 0),         # hourly panel checkpointed; the
                                        # theta-join folds read it, not the
                                        # interval join
        ("stats_kendall_tau", 0),       # 25-row panel checkpointed before
                                        # the O(groups^2) pair join
        ("dq_benford_digits", 0),       # 9-row digit panel checkpointed
        ("layout_zonemap_prune", 2),    # width 1-row agg + the tagged scan
        ("ev_power_mde", 2),            # arm filter branches share the
                                        # user-grain rollup tree (2-row agg;
                                        # cheaper than a checkpoint barrier)
        ("stats_brown_forsythe", 0),    # median panel + power-sum panel
                                        # both checkpointed
        ("sketch_linear_counting", 1),  # one shuffle, both aggs one pass
        ("graph_degree_assortativity", 0),  # edges + degrees checkpointed
        ("stats_jarque_bera", 0),       # day panel checkpointed; mean +
                                        # moment passes read the checkpoint
        ("stats_ljung_box", 0),         # day panel + den + r checkpointed
        ("stats_runs_test", 0),         # day panel + medians checkpointed
        ("text_term_burstiness", 2),    # (term,doc) explode + the N_docs
                                        # 1-row metadata count
        ("sim_hubness_koccurrence", 1), # occ + moments checkpointed; the
                                        # probe-count metadata scan remains
        ("dq_iqr_outliers", 1),         # fence panel checkpointed; one
                                        # live conditional-count pass
        ("stats_cramers_v", 0),         # 25-cell panel checkpointed
        ("text_langid_metrics", 0),     # confusion panel checkpointed
        ("sql_regexp_funcs", 1),        # map-only, one part scan
        ("sample_neyman_allocation", 0),  # per-source panel checkpointed
        ("pack_efficiency_audit", 0),   # token projection checkpointed;
                                        # bins + oversize share it
        ("ev_anomaly_dow_adjusted", 0), # (type, day) panel + residuals
                                        # checkpointed
        ("dq_monotonic_id_audit", 1),   # one scan, all aggs one pass
        ("graph_clustering_coeff", 0),  # edge list checkpointed; both
                                        # legs read it
        ("ev_conversion_latency_quantiles", 2),  # views leg + purchases
                                        # leg (the attribution shape)
    ],
)
def test_round9_ops_scan_budget(name, spark, sf_dir, max_scans):
    """Round-9 operators pin their corpus-scan counts: a query whose
    branches silently re-execute the table scan is linear at sf0.001
    and a 2× scan bill at 100 TB (checkpointed panels absorb their
    scan, so counts can be below the branch count)."""
    plan = (
        REGISTRY[name]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n = plan.count("Scan parquet")
    assert n <= max_scans, f"{name}: {n} parquet scans (budget {max_scans})"


def test_kmv_bottom_k_is_bounded_heap(spark, sf_dir):
    """The KMV bottom-k must plan as TakeOrderedAndProject (k-element
    per-partition heap + driver merge), never a global Sort."""
    plan = (
        REGISTRY["sketch_kmv_distinct"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_theil_sen_pairs_are_broadcast_nested_loop(spark, sf_dir):
    """The calendar-bounded pairwise-slope self-join must ride a
    BroadcastNestedLoopJoin of the tiny month panel (a shuffled range
    join over the panel would be wasted machinery; a cartesian of
    anything larger is caught by test_no_cartesian_product)."""
    plan = (
        REGISTRY["stats_theil_sen_slope"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize(
    "name", ["dedup_minhash_lsh", "dedup_substring_spans", "dedup_minhash_est"]
)
def test_no_generator_expr_below_rebalance_exchange(name, spark, sf_dir):
    """Pin the round-11 InferFiltersFromGenerate fix: Catalyst infers
    ``size(expr) > 0`` from ``Generate explode(expr)`` and predicate
    pushdown carries the FULL generator expression below every
    Project/Repartition into the scan — the heavy tokenize→shingle/
    gram→md5 phase evaluated twice, with the pushed copy running at
    scan parallelism (serial on a single-row-group file) below the
    rebalance exchange.  operators/genutil.explode_nonnull_elems blocks
    the inference; this asserts no shingle/gram machinery
    (zip_with / array_join / split) appears below the round-robin
    rebalance exchange in the executed plan."""
    plan = (
        REGISTRY[name]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # scale-independent form of the pin: pre-fix, the inferred filter
    # pushed the shingle/gram expression all the way into the SCAN's
    # DataFilters (visible at every sf); post-fix the scan filters
    # carry only the cheap isnotnull(text) predicate.  (The
    # below-rebalance-exchange variant of this assertion only
    # triggers at sf0.1 where the volume gate plans the repartition.)
    scans = [
        seg.splitlines()[0]
        for seg in plan.split("FileScan parquet")[1:]
    ]
    for scan_line in scans:
        for heavy in ("zip_with", "array_join", "slice("):
            assert heavy not in scan_line, (
                f"{name}: generator expression ({heavy}) pushed into the "
                f"parquet scan filters — InferFiltersFromGenerate regression"
            )
