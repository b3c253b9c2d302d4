"""Similarity-search operators over embedding columns (SURVEY.md
§2.6): exact brute-force top-k, k-NN join, hyperplane-LSH ANN, and
IVF-style coarse quantization — all DataFrame compositions over
``array<float>`` with JVM-side vector math (functions/vectors.py).

Scale design (100 TB):
- Brute-force top-k: probes broadcast against the corpus; cosine is
  map-side; top-k is a per-partition window — the corpus is never
  shuffled, only (probe x partition) partial top-k rows.
- LSH ANN: deterministic md5-seeded hyperplanes → per-vector sign
  signature → candidates share a signature bucket.  Probe cost drops
  from O(N) to O(bucket).
- IVF: coarse centroids (deterministic sample) → assign via argmin →
  probe nearest `nprobe` cells.  The cell assignment is one broadcast
  join; the probe join is bucket-bounded like LSH.
"""

from __future__ import annotations

import functools
import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from duckdb_hdfs_spark.functions.vectors import (
    dot_expr,
    dot_fold_sql_spark,
    norm_fold_expr,
)

DIM = 64
N_PLANES = 12


def _plane_sign(j: int, d: int) -> int:
    """Deterministic ±1 from md5 — no RNG, reproducible everywhere."""
    digest = hashlib.md5(f"plane-{j}-dim-{d}".encode()).hexdigest()
    return 1 if int(digest[0], 16) % 2 else -1


def hyperplanes() -> list[list[int]]:
    return [[_plane_sign(j, d) for d in range(DIM)] for j in range(N_PLANES)]


LSH_BAND_BITS = 4
LSH_BANDS = N_PLANES // LSH_BAND_BITS  # 3


def lsh_band_keys(emb) -> "F.Column":
    """Banded signature: LSH_BANDS keys of LSH_BAND_BITS sign bits
    each, offset so keys from different bands never collide.
    Matching on ANY band (vs the full signature) trades precision for
    recall the standard multi-band way — a full-signature equality
    match finds almost nothing once the bit count grows.

    ``emb``: a Column over a SIMPLE attribute (e.g. ``F.col("ce")``)
    or a column-name string.  The whole expression is produced by a
    single ``F.expr`` parse of a generated Spark-SQL string — the
    identical Catalyst tree the former per-plane Column arithmetic
    built (zip_with + sequential aggregate fold per plane, same cast
    and comparison shape), minus ~5,000 py4j round-trips of driver
    latency per call (round 13: sim_lsh_ann spent 9.6s of its 11.7s
    DataFrame build inside two lsh_band_keys calls)."""
    # string and Column args normalize through the SAME validation +
    # backquoting, so 'ce' and F.col("ce") share one memo entry and a
    # qualified/expression string can never splice into the generated
    # SQL unvalidated (round-13 advisor)
    name = _backquoted_ident(emb if isinstance(emb, str) else str(emb._jc))
    return F.expr(_band_keys_sql(name))


@functools.cache
def _band_keys_sql(name: str) -> str:
    """The generated SQL of :func:`lsh_band_keys` over the backquoted
    column ``name`` — memoized as a string, which, unlike a Column,
    outlives the session that parsed it."""
    planes = hyperplanes()
    keys = []
    for b in range(LSH_BANDS):
        terms = []
        for r in range(LSH_BAND_BITS):
            plane = planes[b * LSH_BAND_BITS + r]
            arr = "array(" + ", ".join(f"{float(s):.1f}D" for s in plane) + ")"
            proj = (
                f"aggregate(zip_with({name}, {arr}, "
                f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                f"0.0D, (acc, x) -> acc + x)"
            )
            terms.append(
                f"(CASE WHEN {proj} > 0.0D THEN {1 << r} ELSE 0 END)"
            )
        keys.append("(" + " + ".join(terms) + f" + {b * (1 << LSH_BAND_BITS)})")
    return "array(" + ", ".join(keys) + ")"


def _backquoted_ident(s: str) -> str:
    """Validate + backquote a simple (unqualified attribute) column
    name — the only shapes lsh_band_keys is called with, whether the
    caller passed a string or a Column.  Raises on anything more
    complex (qualified names, expressions) rather than silently
    mis-parsing or splicing into the generated SQL."""
    import re

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", s):
        raise ValueError(
            f"lsh_band_keys needs a simple column reference, got {s!r}"
        )
    return f"`{s}`"


def lsh_band_keys_sql(emb: str) -> str:
    """DuckDB mirror of :func:`lsh_band_keys` for oracle SQL.

    Bit-identical to the Spark side: the plane is a DOUBLE list of
    ±1.0 literals, the projection is the same sequential left fold in
    double precision (multiplying by ±1.0 is exact), so the sign test
    and hence every band key match exactly."""
    planes = hyperplanes()  # hoisted: one table build, not one per lookup
    keys = []
    for b in range(LSH_BANDS):
        terms = []
        for r in range(LSH_BAND_BITS):
            plane = planes[b * LSH_BAND_BITS + r]
            plane_lit = "[" + ", ".join(f"{float(s):.1f}" for s in plane) + "]"
            # greatest(len, plane-dim): a SHORTER embedding must yield
            # NULL (as Spark's zip_with null padding does), not a
            # finite partial projection — same ragged-input contract
            # as functions/vectors.dot_sql (round-7 review)
            proj = (
                f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
                f"list_transform(generate_series(1, greatest(len({emb}), "
                f"{len(plane)})), "
                f"i -> CAST({emb}[i] AS DOUBLE) * ({plane_lit})[i])), "
                f"(acc, x) -> acc + x)"
            )
            terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << r} ELSE 0 END)")
        keys.append("(" + " + ".join(terms) + f" + {b * (1 << LSH_BAND_BITS)})")
    return "[" + ", ".join(keys) + "]"


def _topk_merge(scored: DataFrame, k: int) -> DataFrame:
    """Exact per-probe top-k over (probe_id, vec_id, cos_sim) rows
    WITHOUT shuffling the full score set: the plain
    ``row_number() <= k`` filter triggers Spark's
    InferWindowGroupLimit rewrite, which the executed plan confirms
    as a ``WindowGroupLimit Partial`` (bounded per-probe top-k heap,
    O(probes × k) task state) BEFORE the probe exchange and a Final
    after it — the shuffle carries only tasks × probes × k rows,
    never the N × P score rows.

    History (round 7): the previous hand-rolled two-phase partial
    (collect_list per (probe, input-partition) → sort → slice) was
    measured 0.43 s vs 0.28 s for this form at sf0.1 with identical
    output — and its per-task state was the partition's whole score
    array rather than the rewrite's k-bounded heap.  The rewrite is
    plan-pinned (tests/test_plan_shape.py::
    test_brute_topk_window_group_limit)."""
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rk")
    )


def brute_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    exclude_self: bool = True,
    unrolled_dot: bool = False,
) -> DataFrame:
    """Exact cosine top-k per probe.  ``probes`` must be small (it is
    broadcast); the corpus side streams — no corpus shuffle; the
    score rows reduce to per-partition top-k before the only
    shuffle (see :func:`_topk_merge`).

    Norms are computed ONCE per vector before the join (norm values
    are identical to inline recomputation — same sequential fold), so
    per-pair work is one dot product instead of three.

    ``unrolled_dot``: score pairs on the unrolled codegen branch
    (vectors.dot_expr — bit-identical to the fold) instead of the
    interpreted fold.  Pass True when the probe set is
    corpus-proportional (all-pairs kNN graphs: the N² score map is
    the wall, measured 1.3-2× at 4M pairs round 14); the default fold
    keeps the ~460-node expression tree's fixed per-build
    planning/codegen cost (~0.1-0.2 s per site) off few-probe
    searches, where the score map is a few 10⁴ pairs and that fixed
    cost dominates — see the policy note in functions/vectors.py."""
    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        norm_fold_expr("embedding").alias("pn"),
    )
    from duckdb_hdfs_spark.operators.rebalance import rebalance_cpu_heavy

    c = rebalance_cpu_heavy(
        corpus.select("vec_id", F.col("embedding").alias("ce"))
    ).select("vec_id", "ce", norm_fold_expr("ce").alias("cn"))
    joined = c.join(F.broadcast(p))
    if exclude_self:
        joined = joined.filter(F.col("vec_id") != F.col("probe_id"))
    if unrolled_dot:
        cos = F.expr(f"{dot_expr('pe', 'ce')} / (pn * cn)")
    else:
        cos = F.expr(f"{dot_fold_sql_spark('pe', 'ce')} / (pn * cn)")
    return _topk_merge(joined.select("probe_id", "vec_id", cos.alias("cos_sim")), k)


def lsh_ann(probes: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """ANN via shared hyperplane band buckets (any of LSH_BANDS
    bands matching makes a candidate); exact cosine + top-k over the
    deduplicated candidates only.  Scale: corpus explodes x LSH_BANDS
    on the band key, probes broadcast — the join is bucket-bounded,
    and the candidate dedup shuffles only (probe, candidate) pairs."""
    from duckdb_hdfs_spark.operators.rebalance import rebalance_cpu_heavy

    banded_corpus = rebalance_cpu_heavy(
        corpus.select("vec_id", F.col("embedding").alias("ce"))
    ).select(
        "vec_id",
        "ce",
        norm_fold_expr("ce").alias("cn"),
        F.explode(lsh_band_keys(F.col("ce"))).alias("band_key"),
    )
    banded_probes = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        norm_fold_expr("embedding").alias("pn"),
        F.explode(lsh_band_keys(F.col("embedding"))).alias("band_key"),
    )
    candidates = (
        banded_corpus.join(F.broadcast(banded_probes), "band_key")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .dropDuplicates(["probe_id", "vec_id"])
    )
    cos = F.expr(f"{dot_fold_sql_spark('pe', 'ce')} / (pn * cn)")
    return _topk_merge(candidates.select("probe_id", "vec_id", cos.alias("cos_sim")), k)


def centroid_codebook(corpus: DataFrame, n_cells: int) -> DataFrame:
    """Deterministic md5-sampled centroid codebook folded into ONE
    broadcastable array row ``cents: array<struct<cent_id, cent,
    cent_n>>`` — the shared build for every broadcast-codebook argmax
    (IVF assignment, k-means update, cluster purity, cell stats;
    round-7 review: previously four copies).

    Selection is ``orderBy(md5(cent_id)).limit(n_cells)``: Catalyst
    plans it as TakeOrderedAndProject — every task keeps a bounded
    n_cells heap and only partitions × n_cells rows merge — unlike a
    partition-less ``Window.orderBy`` which sorts the entire corpus
    through ONE task.  md5 order makes the sample deterministic yet
    spread independently of vec_id locality."""
    cents = (
        corpus.select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent"),
            norm_fold_expr("embedding").alias("cent_n"),
        )
        .orderBy(F.md5(F.col("cent_id").cast("string")))
        .limit(n_cells)
    )
    return cents.agg(
        F.collect_list(F.struct("cent_id", "cent", "cent_n")).alias("cents")
    )


def assign_nearest(
    df: DataFrame, cent_arr: DataFrame, emb_col: str, n_col: str, top: int
) -> DataFrame:
    """Append ``cent_id`` = each row's ``top`` nearest-by-cosine
    codebook entries (one output row per (input row, near centroid)).

    Pure map-side: the 1-row codebook broadcasts (keyless join →
    BroadcastNestedLoopJoin), every vector scores all centroids
    inside a ``transform`` and ``sort_array`` + ``slice`` keeps the
    argmax — NO corpus-keyed Exchange.  The join-then-window
    formulation this replaced moved N × n_cells scored rows through
    an Exchange just to take each vector's argmax — a 16× data-
    movement tax on the corpus at scale.  Tiebreak (cos desc,
    cent_id asc) exactly: structs sort lexicographically on
    (neg_cos, cent_id).

    The scoring transform is ONE ``F.expr`` parse (round 14): the
    identical fold-dot tree the former per-centroid Column lambda
    assembled in ~100 py4j round-trips per call site —
    ``emb_col``/``n_col`` must be simple column names."""
    scored_sql = (
        f"transform(cents, c -> named_struct("
        f"'neg_cos', -({dot_fold_sql_spark(emb_col, 'c.cent')}"
        f" / ({n_col} * c.cent_n)), "
        f"'cent_id', c.cent_id))"
    )
    return (
        df.join(F.broadcast(cent_arr))
        .withColumn(
            "_near", F.explode(F.slice(F.sort_array(F.expr(scored_sql)), 1, top))
        )
        .withColumn("cent_id", F.col("_near.cent_id"))
        .drop("cents", "_near")
    )


def ivf_ann(
    probes: DataFrame,
    corpus: DataFrame,
    n_cells: int = 16,
    nprobe: int = 2,
    k: int = 5,
    cent_arr: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: centroids = deterministic pseudorandom corpus
    sample (:func:`centroid_codebook` — TakeOrdered md5 sample), cell
    = argmax-cosine map-side assignment (:func:`assign_nearest`),
    probes search their ``nprobe`` nearest cells.

    ``cent_arr``: optional pre-built (checkpointed) codebook —
    multi-arm callers (the nprobe sweep) pass one so the corpus-wide
    sample pass runs once, not once per arm."""
    joined = ivf_candidates(probes, corpus, n_cells, nprobe, cent_arr=cent_arr)
    cos = F.expr(f"{dot_fold_sql_spark('pe', 'ce')} / (pn * cn)")
    return _topk_merge(joined.select("probe_id", "vec_id", cos.alias("cos_sim")), k)


def ivf_candidates(
    probes: DataFrame,
    corpus: DataFrame,
    n_cells: int = 16,
    nprobe: int = 2,
    cent_arr: DataFrame | None = None,
) -> DataFrame:
    """The IVF routing block behind :func:`ivf_ann` (the IVF+PQ
    composed search used it too until it moved to a fused
    cells+codes single corpus scan — see queries/similarity.py
    ``sim_ivf_pq_topk``): codebook sample → map-side corpus assignment (top=1) →
    map-side probe assignment (top=nprobe) → cell-keyed broadcast
    join, self-pairs dropped.  One row per candidate with the scoring
    payload (``pe``/``pn`` probe vector+norm, ``ce``/``cn`` corpus
    vector+norm, ``cent_id``).

    ``cent_arr``: pass a pre-built (possibly checkpointed) codebook
    to share it with other consumers; default builds one inline and
    eagerly checkpoints it — the 1-row codebook feeds BOTH assignment
    arms, and without the pin each arm re-runs the TakeOrdered sample
    scan (2 extra file scans in ivf_ann's plan for the same 16
    rows)."""
    from duckdb_hdfs_spark.operators.rebalance import rebalance_cpu_heavy

    if cent_arr is None:
        cent_arr = centroid_codebook(corpus, n_cells).localCheckpoint(
            eager=True
        )
    corpus_cells = assign_nearest(
        rebalance_cpu_heavy(
            corpus.select("vec_id", F.col("embedding").alias("ce"))
        ).select("vec_id", "ce", norm_fold_expr("ce").alias("cn")),
        cent_arr,
        "ce",
        "cn",
        1,
    )
    probe_cells = assign_nearest(
        probes.select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("pe"),
            norm_fold_expr("embedding").alias("pn"),
        ),
        cent_arr,
        "pe",
        "pn",
        nprobe,
    )
    return corpus_cells.join(
        F.broadcast(probe_cells), "cent_id"
    ).filter(F.col("vec_id") != F.col("probe_id"))
