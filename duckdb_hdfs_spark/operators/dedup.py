"""Deduplication operators for LLM training corpora (SURVEY.md §2.5),
as DataFrame compositions.

Scale design (100 TB): every operator is per-row map work plus ONE
shuffle on a content-derived key (hash / band key / block key).
Candidate generation is always a bounded-bucket enumeration — never
an all-pairs cross join — and pair explosion inside a bucket goes
through ``bucketed_pairs``, which salts fat buckets into hash chunks
and spreads their pair cells across the cluster, so no single task
ever materializes a whole bucket (a skewed GROUP's collect_list is
ONE row in ONE task — AQE cannot split it; the cell partitioner is
the fix, not AQE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from duckdb_hdfs_spark.functions.hashing import (
    BAND_ROWS,
    NUM_BANDS,
    NUM_PERM,
    fold_lower,
    fold_lower_sql,
    md5_int60,
    minhash_perm,
    shingle_hash,
    tokens,
    word_shingles,
)


def norm_text(text):
    """Dedup normalization: portable case fold + whitespace
    collapse (fold_lower, not bare lower — unicode audit r9)."""
    return F.trim(F.regexp_replace(fold_lower(text), r"\s+", " "))


# DuckDB-side mirror of :func:`norm_text` over the ``text`` column —
# THE normalization contract for every oracle that defines "duplicate"
# (dedup pipeline, dataset card, calibration panels).  Public so query
# modules import the contract instead of re-spelling it (round-7
# advisor: curation.py previously reached into queries/dedup.py's
# underscore-private mid-module).  Derived from fold_lower_sql so the
# casefold pair table (hashing._CASEFOLD_SRC/_DST) has a single source
# of truth — extending the pair table there propagates here (round-9
# advisor: four hand-written copies would drift silently).
NORM_SQL = rf"trim(regexp_replace({fold_lower_sql('text')}, '\s+', ' ', 'g'))"


def exact_clusters(docs: DataFrame) -> DataFrame:
    """Exact dedup: md5 over normalized text → cluster per digest.
    One shuffle on the digest; the digest (16 bytes) is the only
    thing shuffled besides doc_id."""
    return (
        docs.select("doc_id", F.md5(norm_text(F.col("text"))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def minhash_signature_cols(docs: DataFrame) -> DataFrame:
    """doc_id + NUM_PERM minhash columns ``m0..m{NUM_PERM-1}``.

    Computed as explode(shingles) → ONE md5-derived base hash per
    shingle → NUM_PERM universal-hash permutations (integer
    multiply-add, see hashing.MINHASH_A/B) → groupBy(doc_id).min.
    Every md5 is evaluated exactly once (a naive nested array
    expression re-evaluates the signature subtree per reference —
    quadratic blowup), and the min aggregation combines map-side, so
    the shuffle carries only (doc_id, NUM_PERM ints) per document
    regardless of document length.  Same math as the oracle's
    ``minhash_sigints_sql``."""
    from duckdb_hdfs_spark.operators.rebalance import rebalance_cpu_heavy

    # NULL text cannot be shingled: exclude it symmetrically with the
    # oracle's banded_sql filter (NULL-injection audit, round 9) —
    # explode(NULL) would silently drop the doc Spark-side while the
    # oracle's list pipeline kept a NULL-keyed bucket.
    base = rebalance_cpu_heavy(
        docs.filter(F.col("text").isNotNull()).select("doc_id", "text")
    )
    sh = base.select(
        "doc_id", word_shingles(tokens(F.col("text")), k=2).alias("shingles")
    )
    # explode WITHOUT InferFiltersFromGenerate (round 11): the
    # inferred size(shingles)>0 filter pushes the ENTIRE
    # normalize+shingle expression below the rebalance exchange — a
    # second, serial evaluation of the pipeline's dominant map phase
    # (stage-profiled 0.66s single-task; interleaved A/B 2.14 →
    # 1.51s on dedup_minhash_lsh, rows identical).  Shingle arrays
    # never hold NULL elements, so outer+filter is row-identical.
    from duckdb_hdfs_spark.operators.genutil import explode_nonnull_elems

    exploded = explode_nonnull_elems(sh, F.col("shingles"), "s", "doc_id")
    hashed = exploded.select("doc_id", shingle_hash(F.col("s")).alias("h"))
    # each permutation aggregate is ONE F.expr parse (same Catalyst
    # tree as the former F.min(minhash_perm(...)) Column arithmetic,
    # same int-literal types) — the per-operator Column building cost
    # ~20 py4j driver round-trips per perm, a measurable slice of the
    # headline key's DataFrame-construction time (round 13)
    from duckdb_hdfs_spark.functions.hashing import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_PRIME,
    )

    return hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                f"min(({MINHASH_A[p]} * `h` + {MINHASH_B[p]}) "
                f"% {MINHASH_PRIME})"
            ).alias(f"m{p}")
            for p in range(NUM_PERM)
        ]
    )


def minhash_banded(docs: DataFrame, sig: DataFrame | None = None) -> DataFrame:
    """doc_id + exploded (band_idx, band_key) rows, ready for the
    bucket self-join.  Band key = md5 over each contiguous BAND_ROWS
    slice of the signature columns (NUM_PERM=12, 4 bands x 3 rows).

    ``sig``: optionally a precomputed (ideally checkpointed)
    signature frame — callers that also consume the signatures
    directly (dedup_minhash_est) pass it so the dominant corpus pass
    runs ONCE instead of once per consumer (round-7 review)."""
    if sig is None:
        sig = minhash_signature_cols(docs)
    # one F.expr parse for the whole band array (identical tree to the
    # former nested F.array(F.md5(F.concat_ws(...))) construction)
    bands = F.expr(
        "array("
        + ", ".join(
            "md5(concat_ws('|', "
            + ", ".join(f"`m{b * BAND_ROWS + r}`" for r in range(BAND_ROWS))
            + "))"
            for b in range(NUM_BANDS)
        )
        + ")"
    )
    return sig.select(
        "doc_id", F.posexplode(bands).alias("band_idx", "band_key")
    )


#: chunk size for the two-level bucket pair enumeration: per-task pair
#: arrays are bounded by PAIR_CHUNK² structs (~8 MB at 512 for bare
#: doc-id pairs), and the replication factor a fat bucket pays is
#: n/PAIR_CHUNK — always strictly dominated by its n²/2 pair output.
PAIR_CHUNK = 512

#: chunk size when the pair id struct CARRIES A VECTOR PAYLOAD
#: (embedding + norm, ~0.5-1 KB per member at d=64): the cell's pair
#: array materializes chunk²/2 structs each holding TWO payloads
#: before the explode, so the memory bound scales with the payload —
#: 512²/2 × ~1.1 KB ≈ 140 MB per cell array would risk task OOM,
#: 128²/2 × ~1.1 KB ≈ 9 MB restores the design envelope.  Callers
#: with heavier payloads (high-dim embeddings) should shrink further:
#: pick chunk ≈ sqrt(2 × 8 MB / pair_struct_bytes).
EMB_PAIR_CHUNK = 128


def bucketed_pairs(
    rows: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    chunk: int = PAIR_CHUNK,
    n_rows: int | None = None,
) -> DataFrame:
    """All unordered in-bucket (id_a, id_b) pairs with id_a < id_b —
    one output row per (bucket, pair) — via two-level salted "cell"
    enumeration, so NO single task ever materializes a whole bucket.

    The naive shape (collect_list the bucket, explode its pairs) puts
    a 10⁶-member boilerplate mega-bucket into ONE multi-GB array row
    and an O(bucket²) explode in ONE task; AQE's skew handling splits
    skewed join/aggregation partitions, not a single group's row, so
    it cannot help.  Instead: a bucket of n members is salted into
    S = ceil(n/chunk) hash chunks (S from a per-bucket count window —
    rows stream through the window and spill, never forming an array),
    and each member is replicated to the S cells (i, j), i ≤ j, that
    touch its chunk — the balanced all-pairs partitioner of the
    MapReduce triangle-enumeration literature.  One groupBy over
    (bucket, cell) then collects two ≤~chunk lists and enumerates
    diagonal-cell in-chunk pairs / off-diagonal cross-chunk pairs
    JVM-side.  Per-task state is O(chunk²) REGARDLESS of bucket size,
    and a fat bucket's S(S+1)/2 cells hash-spread across the whole
    cluster.  Normal buckets (n ≤ chunk) take the S=1 fast path: one
    cell, one row, exactly the old per-bucket cost.

    ``id_col`` may be any orderable column (including a struct used to
    carry a payload through the pair enumeration); ordering and the
    id_a < id_b normalization use its natural (lexicographic) order.
    Precondition: ids are UNIQUE within a bucket (true for every
    caller — one row per doc per band/fingerprint/prefix); a
    duplicated id would pair with itself.

    Cost accounting (round-7 root cause of the BENCH_r06 +49% on
    dedup_minhash_lsh): vs the unsafe collect-the-whole-bucket shape
    this adds (1) the per-bucket count window — a sort of the banded
    rows INSIDE the existing bucket exchange (no extra shuffle; the
    cell groupBy's keys extend the window's partition keys so its
    aggregation also reuses that exchange) — and (2) the cell
    replicate+regroup pass.  Measured head-to-head at sf0.1 (median
    of 7, warm): 0.886 s vs 0.753 s for the unsafe shape — a +0.13 s
    (~18%) bounded-per-task-state premium on this sub-pipeline.  The
    other ~0.8 s of the driver's r6 regression was NOT this operator:
    the single-file sf0.1 documents scan ran the whole shingle+md5
    map phase on ONE task (the round-3 all-or-nothing volume gate in
    operators/rebalance.py refused to parallelize a 254 KB-estimate
    input), and the window+regroup passes sat downstream of that
    serial stage.  The graded rebalance rule (rebalance.py, round 7)
    restores map-phase parallelism; BENCH dedup_minhash_lsh returned
    to ~1.65 s (r5: 1.96 s, r6: 2.92 s).  The premium is kept: exact
    semantics with O(chunk²) per-task state is the right trade at
    100 TB, where one mega-bucket row would otherwise OOM a task.
    """
    grouped = bucket_cells(rows, bucket_cols, id_col, chunk, n_rows=n_rows)
    return grouped.select(
        *bucket_cols,
        F.explode(F.expr(_PAIR_ENUM_SQL)).alias("_pr"),
    ).select(
        *bucket_cols,
        F.col("_pr.a").alias("id_a"),
        F.col("_pr.b").alias("id_b"),
    )


#: pair array for one cell row: diagonal cell (_i == _j) → ids_a is
#: the whole chunk, ids_b empty → in-chunk (lo, hi) pairs from the
#: sorted list; off-diagonal → cross product of the two chunks, pair
#: normalized by least/greatest.  One SQL string parsed by one
#: ``F.expr`` per call: the former nested-lambda Column build cost ~150
#: py4j driver round-trips per bucketed_pairs call site (round 14), and
#: a string, unlike a Column, outlives the session that parsed it.
_PAIR_ENUM_SQL = (
    "CASE WHEN _i = _j THEN "
    "flatten(transform(ids_a, (lo, i) -> "
    "transform(slice(ids_a, i + 2, greatest(size(ids_a) - i - 1, 0)), "
    "hi -> named_struct('a', lo, 'b', hi)))) "
    "ELSE flatten(transform(ids_a, x -> transform(ids_b, y -> "
    "named_struct('a', least(x, y), 'b', greatest(x, y))))) END"
)


def bucket_cells(
    rows: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    chunk: int = PAIR_CHUNK,
    n_rows: int | None = None,
) -> DataFrame:
    """The cell-grouping stage of :func:`bucketed_pairs`, exposed so
    tests can MEASURE the per-task state bound on a mega-bucket
    without exploding its O(n²) pairs: returns one row per
    (bucket, _i, _j) cell with the two ≤~chunk member lists
    (``ids_a``, ``ids_b``).  Every cell row is the complete unit of
    state a task holds during pair enumeration — max(|ids_a|+|ids_b|)
    over this frame IS the per-task memory bound
    (tests/test_skew.py::test_bucketed_pairs_mega_bucket_timed).

    ``n_rows``: for the SINGLE-bucket usage (constant ``bucket_cols``
    value — the blocked all-pairs scan of dedup_lsh_recall_eval's
    mask path), the caller passes the already-known row count and the
    per-bucket count WINDOW is skipped: a constant partition key
    constant-folds to a partition-less window that would funnel the
    whole frame through one task at scale (exactly the shape
    tests/test_plan_shape.py bans).  The chunk count S is then a
    literal; the enumerated pair set is identical (S only steers cell
    placement).  Only valid when every row is in one bucket."""
    chunked = rows.select(*bucket_cols, F.col(id_col).alias("_id"))
    if n_rows is None:
        w = Window.partitionBy(*bucket_cols)
        chunked = chunked.withColumn(
            "_S", F.ceil(F.count(F.lit(1)).over(w) / F.lit(chunk)).cast("int")
        )
    else:
        chunked = chunked.withColumn(
            "_S", F.lit(max(1, -(-n_rows // chunk))).cast("int")
        )
    chunked = chunked.withColumn(
        "_c", F.pmod(F.xxhash64("_id"), F.col("_S")).cast("int")
    )
    # replicate each member to every cell (i, j) touching its chunk;
    # partner index _p sweeps 0..S-1, cell = (min, max) of (_c, _p)
    cells = chunked.select(
        *bucket_cols,
        "_id",
        "_c",
        F.explode(F.sequence(F.lit(0), F.col("_S") - 1)).alias("_p"),
    ).select(
        *bucket_cols,
        "_id",
        "_c",
        F.least("_c", "_p").alias("_i"),
        F.greatest("_c", "_p").alias("_j"),
    )
    # the cell groupBy keys extend the window's partitioning keys, so
    # no additional exchange is planned for it (hash on the bucket
    # cols already co-locates every cell of a bucket's rows)
    return cells.groupBy(*bucket_cols, "_i", "_j").agg(
        F.sort_array(
            F.collect_list(F.when(F.col("_c") == F.col("_i"), F.col("_id")))
        ).alias("ids_a"),
        F.sort_array(
            F.collect_list(F.when(F.col("_c") != F.col("_i"), F.col("_id")))
        ).alias("ids_b"),
    )


def banded_embedding_pairs(emb: DataFrame, rebalance: bool = False) -> DataFrame:
    """LSH sign-bucket candidate pairs over an embeddings frame
    (``vec_id``, ``embedding``) with exact cosine — the shared
    prelude of dedup_embedding_cos / dedup_embedding_clusters /
    dedup_embedding_threshold_sweep (round-7 review: the three sites
    had copy-pasted this ~12-line shape).

    One banding-pipeline pass: the (vec_id, embedding, norm) payload
    rides inside the pair id struct through ``bucketed_pairs`` at
    ``EMB_PAIR_CHUNK`` (payload-sized cell arrays), so no self-join
    re-executes the pipeline and fat sign buckets keep O(chunk²)
    per-task state.  Returns one row per (band bucket, pair) with
    ``vec_a < vec_b`` and the exact (unrounded) ``cos``; a pair
    sharing several buckets repeats with the IDENTICAL cosine —
    callers dedupe with distinct/dropDuplicates/max as fits."""
    from duckdb_hdfs_spark.functions.vectors import dot_expr, norm_fold_expr
    from duckdb_hdfs_spark.operators.similarity import lsh_band_keys

    base = emb.select("vec_id", F.col("embedding").alias("e"))
    if rebalance:
        from duckdb_hdfs_spark.operators.rebalance import rebalance_cpu_heavy

        base = rebalance_cpu_heavy(base)
    v = base.select(
        F.struct(
            "vec_id", F.col("e"), norm_fold_expr("e").alias("nrm")
        ).alias("vid"),
        F.explode(lsh_band_keys(F.col("e"))).alias("band_key"),
    )
    # pair-grain cosine on the unrolled codegen branch (round 14):
    # the interpreted per-element fold ran once per CANDIDATE PAIR —
    # the superlinear term of the family — same left-fold arithmetic,
    # see vectors.dot_expr (the once-per-row norm stays on the fold
    # per the policy note there)
    cos = F.expr(
        f"{dot_expr('id_a.e', 'id_b.e')} / (id_a.nrm * id_b.nrm)"
    )
    return bucketed_pairs(v, ["band_key"], "vid", chunk=EMB_PAIR_CHUNK).select(
        F.col("id_a.vec_id").alias("vec_a"),
        F.col("id_b.vec_id").alias("vec_b"),
        cos.alias("cos"),
    )


def minhash_candidate_pairs(
    docs: DataFrame, sig: DataFrame | None = None
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing >= 1 LSH band bucket.

    Formulated as bucket-cell enumeration (``bucketed_pairs``), not a
    banded self-join: vs the self-join this computes the signature
    pipeline ONCE (a DataFrame self-join re-executes the upstream plan
    per side) and shuffles each banded row once; vs the plain
    collect_list-the-bucket shape, a pathological boilerplate bucket
    is salted across cells so per-task memory stays O(PAIR_CHUNK²)."""
    banded = minhash_banded(docs, sig=sig)
    return (
        bucketed_pairs(banded, ["band_idx", "band_key"], "doc_id")
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact word-set Jaccard for candidate pairs (verification pass
    after LSH — only candidates pay the set-intersection cost).
    Wordsets are checkpointed: both join sides read them, and without
    the materialization the tokenize+distinct pass over the corpus
    executes once per side (round-7 review)."""
    wordsets = docs.select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("words")
    ).localCheckpoint(eager=True)
    wa = wordsets.select(
        F.col("doc_id").alias("doc_a"), F.col("words").alias("words_a")
    )
    wb = wordsets.select(
        F.col("doc_id").alias("doc_b"), F.col("words").alias("words_b")
    )
    return (
        pairs.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("words_a", "words_b")).cast("double")
                / F.size(F.array_union("words_a", "words_b"))
            ).alias("jaccard"),
        )
    )


def connected_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Transitive duplicate clusters from candidate pairs: iterative
    min-label propagation (each node adopts the smallest doc_id
    reachable through its edges) accelerated with POINTER JUMPING
    (label ← label(label), the shortcutting step of the
    large-star/small-star family), until no label changes.

    Scale: each iteration is three equi-joins + a min-aggregate, all
    shuffle-partitioned on the node id.  Propagation alone converges
    in O(component diameter) rounds — fine for shallow near-dup
    clusters, pathological on chain-shaped ones; the jump step halves
    remaining chain depth every round (labels only decrease and every
    label is itself a node, so label(label(v)) is reachable from v
    and ≤ label(v)), giving O(log diameter) rounds overall.
    Convergence is checked with a cheap count of changed labels."""
    # materialize the edge list ONCE: every iteration joins it, and
    # without the checkpoint each join re-executes the full upstream
    # candidate-pair lineage (the minhash/banding pipeline) — measured
    # 56s → 9s for the sf0.1 cluster histogram.  Round-13 negative
    # result (do not re-attempt): checkpointing the edges AFTER a
    # hash-repartition on ``dst`` — checkpoints preserve output
    # partitioning, so every iteration's neighbor-min join could skip
    # re-exchanging the static edge side — measured SLOWER (paired
    # A/B medians 12.9s vs 11.0s on dedup_cc_clusters, 13.1 vs 11.6
    # on pipeline_corpus_release at sf0.1/32): the full-width
    # 32-partition layout forces every per-iteration stage to run one
    # task per partition, and ~6 iterations of that scheduling
    # overhead outweigh the one exchange saved.  Round-14 negative
    # result (do not re-attempt): TWO propagate+jump passes per
    # checkpoint -- halving the checkpoint/count rounds for the same
    # min-label fixpoint -- measured 0.73-0.91x across all five CC
    # consumers at sf0.1: the deeper unmaterialized 6-join iteration
    # plan costs more in planning and stage depth than the halved
    # fixed overhead recovers.
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer jump: label ← label(label).  Every label value is a
        # node id present in `propagated` and labels are monotone
        # decreasing, so the looked-up label is always ≤ the current
        # one; the left join + coalesce keeps self-rooted nodes fixed.
        parent = propagated.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        new_labels = (
            propagated.join(parent, propagated.label == parent.p_node, "left")
            .select(
                "node",
                F.coalesce(F.col("p_label"), F.col("label")).alias("label"),
                # convergence flag carried through the SAME pass: the
                # old label rides `propagated`, so "did anything move"
                # needs no join of new-vs-old label frames afterwards
                # (round 13 — the former join+count added an exchange
                # and two stages per iteration to answer a boolean)
                (
                    F.coalesce(F.col("p_label"), F.col("label"))
                    != F.col("old_label")
                ).alias("_chg"),
            )
        )
        # materialize BEFORE the convergence count so each iteration
        # executes once (and lineage stays bounded)
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("cluster_id"))


SIMHASH_BITS = 60


def simhash_docs(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per document: per-token 60-bit md5 hash, bitwise
    +/-1 vote per bit position, sign of each vote is the output bit.
    Implemented as explode → 60 conditional sums → bit reassembly
    (all JVM-side; one shuffle on doc_id).  Bucketing on the top 12
    bits gives hamming-neighbor candidate buckets."""
    from duckdb_hdfs_spark.operators.rebalance import rebalance_cpu_heavy

    tok = (
        rebalance_cpu_heavy(docs.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
        )
        .withColumn("h", md5_int60(F.col("tok")))
    )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << j)) > 0, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return votes.select(
        "doc_id",
        sim.cast("bigint").alias("simhash"),
        F.shiftright(sim.cast("bigint"), 48).alias("bucket"),
    )
