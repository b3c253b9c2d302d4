"""Dedup registry entries (SURVEY.md §2.5) with DuckDB oracles.

The oracle SQL re-derives minhash/banding with the same md5-based
constructions as functions/hashing.py — hex-string minima and band
digests are engine-identical, so LSH bucket assignments (and hence
candidate pairs) match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_hdfs_spark.functions.hashing import (
    NUM_BANDS,
    NUM_PERM,
    band_keys_sql,
    minhash_sigints_sql,
    shingle_hash_sql,
    tokens_sql,
    word_shingles_sql,
)
from duckdb_hdfs_spark.functions.hashing import tokens as tokens_col
from duckdb_hdfs_spark.operators.dedup import (
    NORM_SQL,
    bucketed_pairs,
    exact_clusters,
    jaccard_pairs,
    minhash_candidate_pairs,
    norm_text,
    simhash_docs,
)
from duckdb_hdfs_spark.operators.genutil import local_frame
from duckdb_hdfs_spark.queries import query
from duckdb_hdfs_spark.queries._helpers import _t

_TOKSET_SQL = f"list_distinct({tokens_sql('text')})"
_SHINGLES_SQL = word_shingles_sql("toks", k=2)

# staged CTEs: each expression becomes a materialized column so the
# md5 pipeline evaluates once per row instead of once per reference.
def banded_sql(source: str = "documents") -> str:
    """The minhash/banding oracle CTE chain over ``source`` — a
    parameterized builder so consumers banding a SURVIVOR set
    (pipeline_corpus_release bands its quality/exact-dedup survivors
    ``sv``) retarget it structurally instead of string-replacing the
    rendered SQL (round-7 review: the replace silently depended on
    the literal 'FROM documents' appearing exactly once)."""
    # text IS NOT NULL: a NULL text cannot be shingled — both engines
    # must EXCLUDE it rather than let NULL propagate asymmetrically
    # through split/minhash (NULL-injection audit, round 9)
    return f"""
sh AS (
    SELECT doc_id, {_SHINGLES_SQL} AS shingles
    FROM (SELECT doc_id, {tokens_sql('text')} AS toks FROM {source}
          WHERE text IS NOT NULL)
),
hs AS (
    SELECT doc_id,
           list_transform(shingles, s -> {shingle_hash_sql('s')}) AS hashes
    FROM sh
),
sigs AS (
    SELECT doc_id, {minhash_sigints_sql('hashes')} AS sig FROM hs
),
banded AS (
    SELECT doc_id, gs.i - 1 AS band_idx, {band_keys_sql('sig')}[gs.i] AS band_key
    FROM sigs
    CROSS JOIN (SELECT unnest(generate_series(1, {NUM_BANDS})) AS i) gs
)
"""


_BANDED_SQL = banded_sql()

#: the band self-join candidate-pair CTE shared by every pair-scoring
#: oracle (round-7 review: previously copy-pasted 7x — a drifted copy
#: would silently redefine one oracle's candidate set)
_PAIRS_SQL = """pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a
    JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
)"""


# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle=f"""
SELECT md5({NORM_SQL}) AS content_hash,
       count(*) AS cluster_size,
       min(doc_id) AS keeper_doc_id
FROM documents
GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_clusters(_t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@query(
    "dedup_exact_stats",
    oracle=f"""
SELECT cluster_size, count(*) AS n_clusters
FROM (
    SELECT count(*) AS cluster_size
    FROM documents GROUP BY md5({NORM_SQL})
)
GROUP BY cluster_size
""",
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the corpus-health metric."""
    return (
        exact_clusters(_t(spark, sf_dir, "documents"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


# --------------------------------------------------------------------------
@query(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {_BANDED_SQL}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a
JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
""",
    headline=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (12 perms, 4 bands x 3 rows)."""
    return minhash_candidate_pairs(_t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@query(
    "dedup_minhash_pairs",
    oracle=f"""
WITH {_BANDED_SQL},
{_PAIRS_SQL},
ws AS (SELECT doc_id, {_TOKSET_SQL} AS words FROM documents)
SELECT p.doc_a, p.doc_b,
       CAST(len(list_intersect(wa.words, wb.words)) AS DOUBLE)
           / len(list_distinct(list_concat(wa.words, wb.words))) AS jaccard
FROM pairs p
JOIN ws wa ON p.doc_a = wa.doc_id
JOIN ws wb ON p.doc_b = wb.doc_id
""",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates + exact Jaccard verification (the verify pass
    only touches candidate pairs, not the full corpus)."""
    docs = _t(spark, sf_dir, "documents")
    return jaccard_pairs(docs, minhash_candidate_pairs(docs))


# --------------------------------------------------------------------------
@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_BANDED_SQL},
{_PAIRS_SQL},
grams AS (
    SELECT doc_id, {word_shingles_sql('toks', k=3)} AS g3
    FROM (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents)
)
SELECT p.doc_a, p.doc_b,
       CAST(len(list_intersect(a.g3, b.g3)) AS DOUBLE)
           / len(list_distinct(list_concat(a.g3, b.g3))) AS jaccard3
FROM pairs p
JOIN grams a ON p.doc_a = a.doc_id
JOIN grams b ON p.doc_b = b.doc_id
WHERE len(list_intersect(a.g3, b.g3)) > 0
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard scored over the MinHash-LSH candidate
    stream (operators.dedup.minhash_candidate_pairs) — the bounded
    pair source.  Earlier rounds blocked on (lang, source) metadata;
    that was O(block²) with blocks growing linearly in corpus size
    (at 100 TB one (en, web) block IS the corpus).  Band buckets
    bound pair cost by bucket size instead, which the
    dedup_lsh_bucket_stats histogram monitors.

    Scale shape: one pass builds signatures/bands, bucket explode
    emits pairs, then two hash joins attach each side's distinct
    3-gram set; intersection/union are array expressions on the
    joined rows."""
    from duckdb_hdfs_spark.functions.hashing import tokens, word_shingles

    docs = _t(spark, sf_dir, "documents")
    # checkpoint: both join sides read grams — without it the 3-gram
    # build over the corpus executes once per side (round-7 review)
    grams = docs.select(
        "doc_id", word_shingles(tokens(F.col("text")), 3).alias("g3")
    ).localCheckpoint(eager=True)
    ga = grams.select(F.col("doc_id").alias("doc_a"), F.col("g3").alias("g3_a"))
    gb = grams.select(F.col("doc_id").alias("doc_b"), F.col("g3").alias("g3_b"))
    inter = F.size(F.array_intersect("g3_a", "g3_b"))
    return (
        minhash_candidate_pairs(docs)
        .join(ga, "doc_a")
        .join(gb, "doc_b")
        .filter(inter > 0)
        .select(
            "doc_a",
            "doc_b",
            (
                inter.cast("double") / F.size(F.array_union("g3_a", "g3_b"))
            ).alias("jaccard3"),
        )
    )


# --------------------------------------------------------------------------
def _simhash_oracle() -> str:
    from duckdb_hdfs_spark.functions.hashing import md5_int60_sql, tokens_sql
    from duckdb_hdfs_spark.operators.dedup import SIMHASH_BITS

    votes = ",\n           ".join(
        f"sum(CASE WHEN (h & {1 << j}) <> 0 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    sim = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
    SELECT doc_id, unnest(list_distinct({tokens_sql('text')})) AS tok
    FROM documents
),
h AS (SELECT doc_id, {md5_int60_sql('tok')} AS h FROM tok),
votes AS (
    SELECT doc_id,
           {votes}
    FROM h GROUP BY doc_id
),
sim AS (SELECT doc_id, {sim} AS simhash FROM votes)
SELECT doc_id, simhash, simhash >> 48 AS bucket FROM sim
"""


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash + 12-bit prefix bucket per document.  The md5
    token hash makes the bit votes engine-portable, so the DuckDB
    oracle reproduces the exact signature (hash-checked, not
    rows-only)."""
    return simhash_docs(_t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
def _embedding_cos_oracle() -> str:
    from duckdb_hdfs_spark.functions.vectors import dot_sql, norm_sql
    from duckdb_hdfs_spark.operators.similarity import lsh_band_keys_sql

    d = dot_sql("a.embedding", "b.embedding")
    return f"""
WITH v AS (
    SELECT vec_id, embedding,
           {norm_sql('embedding')} AS nrm,
           unnest({lsh_band_keys_sql('embedding')}) AS band_key
    FROM embeddings
)
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({d} / (a.nrm * b.nrm), 6) AS cos_sim
FROM v a
JOIN v b ON a.band_key = b.band_key AND a.vec_id < b.vec_id
WHERE {d} / (a.nrm * b.nrm) >= 0.3
"""


@query("dedup_embedding_cos", oracle=_embedding_cos_oracle())
def dedup_embedding_cos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: exact cosine >= 0.3 over LSH
    sign-bucket candidate blocks (operators/similarity.py:
    lsh_band_keys) — the 100 TB formulation: the join is bounded by
    band-bucket size, NOT by the hottest metadata label (the previous
    label-blocked form was O(block²) on the dominant label).  Pairs
    sharing several bands are deduplicated after the threshold filter
    so the dedup shuffle carries only surviving (vec_a, vec_b) pairs.
    The threshold filter runs on the UNROUNDED cosine (bit-identical
    fold in both engines); rounding is output-only.  Round 7: re-keyed
    from the band-key self-join onto the salted cell partitioner via
    the shared operators.dedup.banded_embedding_pairs prelude — one
    pipeline pass instead of two, O(chunk²) per-task state on fat
    buckets."""
    from duckdb_hdfs_spark.operators.dedup import banded_embedding_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return (
        banded_embedding_pairs(emb, rebalance=True)
        .filter(F.col("cos") >= 0.3)
        .select(
            "vec_a", "vec_b", F.round("cos", 6).alias("cos_sim")
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )


# --------------------------------------------------------------------------
@query(
    "dedup_keep_best",
    oracle=f"""
WITH ranked AS (
    SELECT doc_id, n_chars, lang,
           md5({NORM_SQL}) AS content_hash,
           row_number() OVER (PARTITION BY md5({NORM_SQL})
                              ORDER BY n_chars DESC, doc_id) AS rk
    FROM documents
)
SELECT content_hash, doc_id AS keeper_doc_id, n_chars, lang
FROM ranked WHERE rk = 1
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup: within each exact-duplicate cluster keep
    the longest document (doc_id tiebreak) — the keeper-selection
    policy a real corpus pipeline applies after clustering.  One
    window shuffle on the content hash; deterministic (row_number,
    not max_by, whose tie choice is engine-arbitrary)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "n_chars", "lang", F.md5(norm_text(F.col("text"))).alias("content_hash")
    )
    w = Window.partitionBy("content_hash").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        hashed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("content_hash", F.col("doc_id").alias("keeper_doc_id"), "n_chars", "lang")
    )


# --------------------------------------------------------------------------
@query(
    "dedup_cc_clusters",
    oracle=f"""
WITH RECURSIVE {_BANDED_SQL},
{_PAIRS_SQL},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, label) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT node, min(label) AS cluster_id FROM reach GROUP BY node
""",
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    MinHash-LSH candidate pairs via iterative min-label propagation
    (operators.dedup.connected_clusters).  The fixpoint (each node's
    min reachable doc_id) is execution-strategy-independent, so the
    oracle can re-derive it with a recursive CTE and hash-match even
    though the Spark side iterates."""
    from duckdb_hdfs_spark.operators.dedup import connected_clusters

    pairs = minhash_candidate_pairs(_t(spark, sf_dir, "documents"))
    return connected_clusters(pairs)


# --------------------------------------------------------------------------
@query(
    "dedup_minhash_est",
    oracle=f"""
WITH {_BANDED_SQL},
{_PAIRS_SQL}
SELECT p.doc_a, p.doc_b,
       CAST(len(list_filter(generate_series(1, {NUM_PERM}),
                i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {NUM_PERM}.0
           AS est_jaccard
FROM pairs p
JOIN sigs sa ON p.doc_a = sa.doc_id
JOIN sigs sb ON p.doc_b = sb.doc_id
""",
)
def dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated Jaccard for LSH candidates from signature agreement
    (matching minhash components / NUM_PERM) — the free similarity
    estimate that ranks candidates WITHOUT touching document text
    (the exact-verify pass, dedup_minhash_pairs, is the expensive
    alternative).  Signature columns join the candidate pairs on each
    side; integer equality, engine-exact."""
    from duckdb_hdfs_spark.functions.hashing import NUM_PERM
    from duckdb_hdfs_spark.operators.dedup import minhash_signature_cols

    docs = _t(spark, sf_dir, "documents")
    # checkpoint + reuse: sig feeds BOTH join sides AND the candidate
    # pair stream — without this the dominant corpus pass (tokenize/
    # shingle/md5/min-agg) executed three times (round-7 review)
    sig = minhash_signature_cols(docs).localCheckpoint(eager=True)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"m{p}").alias(f"a{p}") for p in range(NUM_PERM)]
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"m{p}").alias(f"b{p}") for p in range(NUM_PERM)]
    )
    matches = sum(
        F.when(F.col(f"a{p}") == F.col(f"b{p}"), 1).otherwise(0)
        for p in range(NUM_PERM)
    )
    pairs = minhash_candidate_pairs(docs, sig=sig)
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches.cast("double") / NUM_PERM).alias("est_jaccard"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "dedup_lsh_bucket_stats",
    oracle=f"""
WITH {_BANDED_SQL}
SELECT band_idx, sz AS bucket_size, count(*) AS n_buckets
FROM (
    SELECT band_idx, band_key, count(*) AS sz
    FROM banded GROUP BY band_idx, band_key
)
GROUP BY band_idx, sz
""",
)
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket size histogram — the dedup pipeline's scale
    monitor: in-bucket pair cost grows quadratically with bucket
    size, so a fat bucket (boilerplate shingles hashing together) is
    THE thing that blows up banded dedup at 100 TB.  This per-band
    distribution is the dashboard panel that catches it before the
    pair stage runs.

    Scale shape: reuses the one-pass banded build (signatures →
    4 md5 band keys per doc), two partial-aggregated group-bys —
    bucket count then histogram — with outputs bounded by distinct
    bucket sizes, not corpus size."""
    from duckdb_hdfs_spark.operators.dedup import minhash_banded

    banded = minhash_banded(_t(spark, sf_dir, "documents"))
    return (
        banded.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .groupBy(F.col("band_idx").cast("bigint").alias("band_idx"), "bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
    )


# --------------------------------------------------------------------------
@query(
    "dedup_cc_size_histogram",
    oracle=f"""
WITH RECURSIVE {_BANDED_SQL},
{_PAIRS_SQL},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, label) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
),
clusters AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
SELECT sz AS cluster_size, count(*) AS n_clusters
FROM (SELECT cluster_id, count(*) AS sz FROM clusters GROUP BY cluster_id)
GROUP BY sz
""",
)
def dedup_cc_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram (round 5): the release metric
    on top of transitive clustering — how much of the corpus sits in
    2-doc pairs vs boilerplate mega-clusters (a fat cluster is where
    keep-one dedup deletes the most and where a bad LSH threshold
    shows first).  Reuses the pointer-jumping connected components;
    two bounded aggregates collapse clusters to sizes to the
    histogram."""
    from duckdb_hdfs_spark.operators.dedup import connected_clusters

    pairs = minhash_candidate_pairs(_t(spark, sf_dir, "documents"))
    clusters = connected_clusters(pairs)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


# --------------------------------------------------------------------------
def _embedding_clusters_oracle() -> str:
    from duckdb_hdfs_spark.functions.vectors import dot_sql, norm_sql
    from duckdb_hdfs_spark.operators.similarity import lsh_band_keys_sql

    d = dot_sql("a.embedding", "b.embedding")
    # edges is AS MATERIALIZED: DuckDB inlines plain CTEs per
    # reference, and the recursive reach joins edges EVERY iteration
    # — without materialization the full cosine pair pipeline
    # re-executes per round (measured: 300s+ vs seconds)
    return f"""
WITH RECURSIVE v AS (
    SELECT vec_id, embedding,
           {norm_sql('embedding')} AS nrm,
           unnest({lsh_band_keys_sql('embedding')}) AS band_key
    FROM embeddings
),
pairs AS MATERIALIZED (
    SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
    FROM v a
    JOIN v b ON a.band_key = b.band_key AND a.vec_id < b.vec_id
    WHERE {d} / (a.nrm * b.nrm) >= 0.3
),
edges AS MATERIALIZED (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, label) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT node AS vec_id, min(label) AS cluster_id FROM reach GROUP BY node
"""


@query("dedup_embedding_clusters", oracle=_embedding_clusters_oracle())
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC near-dup clusters (round 5): connected components
    over the embedding-cosine pair graph (LSH sign-bucket candidates,
    exact cosine ≥ 0.3) — the companion to the lexical MinHash
    clusters: paraphrases and translations cluster here that share
    no shingles.  Cluster ids feed the same keep-best policy.

    Scale shape: bounded band-bucket candidate generation (never
    all-pairs; round 7 re-keyed from the band self-join onto the
    salted cell partitioner via the shared
    operators.dedup.banded_embedding_pairs prelude — one pipeline
    pass, O(chunk²) per-task state), then the pointer-jumping CC
    iteration (operators.dedup.connected_clusters — edges
    checkpointed once, O(log diameter) rounds)."""
    from duckdb_hdfs_spark.operators.dedup import (
        banded_embedding_pairs,
        connected_clusters,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = (
        banded_embedding_pairs(emb, rebalance=True)
        .filter(F.col("cos") >= 0.3)
        .select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
        .distinct()
    )
    return connected_clusters(pairs).select(
        F.col("node").alias("vec_id"), "cluster_id"
    )


# --------------------------------------------------------------------------
@query(
    "dedup_pair_triangles",
    oracle=f"""
WITH {_BANDED_SQL},
pairs AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a
    JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
),
tri AS (
    SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
    FROM pairs e1
    JOIN pairs e2 ON e2.doc_a = e1.doc_b
    JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
)
SELECT node, count(*) AS n_triangles
FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)
GROUP BY node
""",
)
def dedup_pair_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the near-dup candidate graph
    (round 5) — the local-clustering signal that separates tight
    boilerplate FAMILIES (every pair similar → many triangles) from
    chain-shaped false-positive runs (A~B~C but A≁C → none); a
    complement to dedup_cc_size_histogram, which cannot tell the two
    apart.

    Scale shape: the canonical two-join triangle enumeration over
    id-ordered edges (a<b<c counted exactly once) — each join is an
    equi-join on a node key, so cost is Σ deg², bounded by the LSH
    bucket discipline, never a cartesian.  The edge list is
    checkpointed once and feeds all three join legs."""
    edges = minhash_candidate_pairs(
        _t(spark, sf_dir, "documents")
    ).localCheckpoint(eager=True)
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


# --------------------------------------------------------------------------
WINNOW_K = 3   # k-gram size
WINNOW_W = 4   # winnowing window


def _winnowing_oracle() -> str:
    from duckdb_hdfs_spark.functions.hashing import MINHASH_PRIME

    kgrams = word_shingles_sql("toks", k=WINNOW_K).replace(
        "list_distinct", ""
    )  # multiplicity preserved: winnowing windows are positional
    least_terms = ", ".join(
        ["hs[i]"]
        + [f"coalesce(hs[i + {j}], {MINHASH_PRIME})" for j in range(1, WINNOW_W)]
    )
    return f"""
WITH hsx AS (
    SELECT doc_id,
           list_transform({kgrams}, g -> {shingle_hash_sql('g')}) AS hs
    FROM (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents)
),
fp AS MATERIALIZED (
    SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(hs) - {WINNOW_W - 1}, 1)),
        i -> least({least_terms})))) AS f
    FROM hsx
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
HAVING count(*) >= 2
"""


@query("dedup_winnowing", oracle=_winnowing_oracle())
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint dedup (round 5) — the MOSS algorithm
    (Schleimer et al., SIGMOD 2003): hash every word 3-gram, keep the
    MINIMUM hash of each sliding 4-window as a fingerprint, and pair
    documents sharing ≥ 2 fingerprints.  The guarantee minhash lacks:
    any shared run of ≥ k+w-1 tokens is CERTAIN to share a
    fingerprint (local minima coincide), so winnowing catches long
    verbatim passages positionally, where banded minhash is
    probabilistic.

    Scale shape: window minima build as a least()-cascade over w
    shifted slices of the per-doc hash array (the word_kgrams
    zip_with recipe — no outer refs inside lambdas); fingerprints
    explode into buckets and pairs emit bucket-bounded, exactly the
    minhash band pipeline's shuffle discipline; the pair rollup
    counts shared fingerprints in the same shuffle."""
    from duckdb_hdfs_spark.functions.hashing import (
        MINHASH_PRIME,
        shingle_hash,
        tokens,
        word_kgrams,
    )

    docs = _t(spark, sf_dir, "documents")
    hs = F.transform(
        word_kgrams(tokens(F.col("text")), WINNOW_K), shingle_hash
    )
    # materialize hashes + padded copy as columns FIRST so the w
    # shifted slices below cut a computed array, not w re-evaluations
    # of the md5 pipeline
    hsx = docs.select("doc_id", hs.alias("hs")).select(
        "doc_id",
        "hs",
        F.concat(
            F.col("hs"),
            F.array_repeat(F.lit(MINHASH_PRIME).cast("bigint"), WINNOW_W - 1),
        ).alias("p"),
        F.greatest(F.size("hs") - (WINNOW_W - 1), F.lit(1)).alias("nw"),
    )
    mins_col = F.slice(F.col("p"), 1, F.col("nw"))
    for j in range(1, WINNOW_W):
        mins_col = F.zip_with(
            mins_col,
            F.slice(F.col("p"), j + 1, F.col("nw")),
            lambda a, b: F.least(a, b),
        )
    fp = hsx.select(
        "doc_id", F.explode(F.array_distinct(mins_col)).alias("f")
    )
    # per-fingerprint pair explosion via the salted cell partitioner —
    # a boilerplate fingerprint shared by 10⁶ docs must not collect
    # into one array row (see operators.dedup.bucketed_pairs); each
    # bucket emits each unordered pair exactly once, so the rollup
    # below counts shared fingerprints correctly
    from duckdb_hdfs_spark.operators.dedup import bucketed_pairs

    pairs = bucketed_pairs(fp, ["f"], "doc_id").select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


# --------------------------------------------------------------------------
def _simhash_pairs_oracle() -> str:
    # rewrite the simhash oracle's final SELECT into a materialized
    # CTE (the pair join references it twice; DuckDB re-evaluates
    # plain CTEs per reference)
    base = _simhash_oracle()
    final = "SELECT doc_id, simhash, simhash >> 48 AS bucket FROM sim"
    head, _ = base.rsplit(final, 1)
    return f"""
{head.rstrip().rstrip(',')},
sims AS MATERIALIZED ({final})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS BIGINT)
           AS hamming
FROM sims a JOIN sims b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= 16
"""


@query("dedup_simhash_pairs", oracle=_simhash_pairs_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash candidate PAIRS (round 5) — the step dedup_simhash's
    signatures exist for: documents sharing a 12-bit prefix bucket
    whose full 60-bit signatures differ in ≤ 16 bits (near-dups under
    the simhash metric; Charikar's rounding argument maps hamming
    distance to cosine similarity of the feature vectors).

    Scale shape: prefix buckets ARE 1-band LSH for hamming space, and
    pair cost is bucket-bounded exactly like the MinHash band
    pipeline; the hamming filter is a popcount over XOR —
    integer-exact on both engines."""
    from duckdb_hdfs_spark.operators.dedup import bucketed_pairs

    sims = simhash_docs(_t(spark, sf_dir, "documents"))
    packed = sims.select(
        "bucket", F.struct("doc_id", "simhash").alias("node")
    )
    # struct field order is (doc_id, simhash) and doc_ids are distinct,
    # so the helper's lexicographic id_a < id_b normalization IS the
    # oracle join's doc_a < doc_b ordering; the signature rides along
    # in the struct, so no join-back is needed for the hamming filter.
    # vs the previous checkpointed bucket self-join: the simhash
    # pipeline executes once lazily, and a boilerplate prefix bucket
    # spreads across salted cells instead of one task's join partition.
    pairs = bucketed_pairs(packed, ["bucket"], "node")
    hamming = F.bit_count(
        F.col("id_a.simhash").bitwiseXOR(F.col("id_b.simhash"))
    ).cast("bigint")
    return (
        pairs.filter(hamming <= 16)
        .select(
            F.col("id_a.doc_id").alias("doc_a"),
            F.col("id_b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "dedup_lsh_recall_eval",
    oracle=f"""
WITH {_BANDED_SQL},
cand AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a
    JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
),
ws AS MATERIALIZED (
    SELECT doc_id, {_TOKSET_SQL} AS words FROM documents
),
inv AS (SELECT doc_id, unnest(words) AS tok FROM ws),
shared AS (
    SELECT DISTINCT i1.doc_id AS doc_a, i2.doc_id AS doc_b
    FROM inv i1 JOIN inv i2 ON i1.tok = i2.tok AND i1.doc_id < i2.doc_id
),
truth AS MATERIALIZED (
    SELECT s.doc_a, s.doc_b
    FROM shared s
    JOIN ws wa ON s.doc_a = wa.doc_id
    JOIN ws wb ON s.doc_b = wb.doc_id
    WHERE CAST(len(list_intersect(wa.words, wb.words)) AS DOUBLE)
          / len(list_distinct(list_concat(wa.words, wb.words))) >= 0.5
)
SELECT count(*) AS n_true_pairs,
       CAST(count(c.doc_a) AS BIGINT) AS n_caught,
       round(CAST(count(c.doc_a) AS DOUBLE) / nullif(count(*), 0), 4) AS recall
FROM truth t
LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
""",
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH recall evaluation (round 5) — the dedup analogue
    of sim_recall_eval: of all TRUE near-dup pairs (exact word-set
    Jaccard ≥ 0.5), what fraction does the banded pipeline surface as
    candidates?  The number that justifies the band/row configuration
    before a 100 TB run (the S-curve says 4 bands × 3 rows catches a
    0.5-Jaccard pair with p = 1-(1-0.5³)⁴ ≈ 0.41 — a LOW-recall
    configuration this eval makes visible).

    Ground truth WITHOUT a cartesian: ADAPTIVE (optimization round
    13).  The original inverted-index recipe (pairs sharing ≥ 1
    distinct token, exact-verified) costs Σ df² in posting-join
    output; on THIS fixture's dense vocabulary (31 distinct tokens,
    df ≈ n·¾) that is 448 M intermediate rows distinct-ed down to the
    12.5 M ≈ n²/2 real pairs — 36× amplification, measured 125 s at
    sf0.1 (guide §1: measure first; §2.3: shuffle fewer bytes).  When
    the corpus vocabulary fits a 64-bit mask (≤ 62 distinct tokens —
    two cheap scalar jobs decide), every word set is ONE long and the
    truth count is a blocked all-pairs popcount scan: docs ride the
    salted cell partitioner (bucketed_pairs, O(chunk²) per-task state)
    as (doc_id, mask, |set|) structs, |A∩B| = bit_count(a&b) — an
    8-byte proxy replacing the ~200-byte word arrays (guide §8: decide
    with small rows).  The n_caught arm verifies the (distinct) LSH
    candidates directly against the masks — |cand ∩ truth| counted
    from the cand side, identical by symmetry of set intersection.
    Ambient similarity makes the truth set itself Θ(n²) here, so the
    n²/2 popcounts are the information-theoretic floor for an exact
    recall denominator.  Real corpora (vocab ≫ 62) keep the
    inverted-index path, whose Σ df² is then far below n²/2.  Both
    paths compute |A∩B| / |A∪B| on identical integers — the Jaccard
    expression (double division, same NULL/zero semantics) and the
    final aggregate are shared, so the result is bit-identical
    (verified vs the unchanged DuckDB oracle at sf0.001/0.01/0.1)."""
    docs = _t(spark, sf_dir, "documents")
    words = F.array_distinct(tokens_col(F.col("text")))
    vocab_df = docs.select(F.explode(words).alias("tok")).distinct()
    # ONE bounded decision job (round-13 advisor: count + collect was
    # two): collect at most 63 distinct tokens — a 63rd row proves the
    # vocabulary exceeds the 62-bit mask budget, and ≤62 rows ARE the
    # full vocabulary.  Driver memory stays O(1) on any corpus.
    vocab_rows = [r[0] for r in vocab_df.limit(63).collect()]
    cand = minhash_candidate_pairs(docs).select(
        F.col("doc_a").alias("c_a"), F.col("doc_b").alias("c_b")
    )
    if len(vocab_rows) <= 62:
        # --- dense-vocab fast path: 64-bit set masks ---------------
        vocab = sorted(vocab_rows)  # ≤ 62 strings
        vlit = F.array(*[F.lit(t) for t in vocab])
        mask = F.aggregate(
            words,
            F.lit(0).cast("long"),
            lambda acc, w: acc.bitwiseOR(
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    (F.array_position(vlit, w) - 1).cast("int"),
                )
            ),
        )
        masks = docs.select(
            "doc_id", mask.alias("m"), F.size(words).alias("k")
        ).localCheckpoint(eager=True)
        # n_rows: the checkpointed mask count is a cheap local job and
        # lets bucket_cells use a LITERAL chunk count — the constant
        # "_g" partition key would otherwise constant-fold its count
        # window into a partition-less one (single task holding the
        # whole corpus; the plan-shape test bans exactly that)
        pairs = bucketed_pairs(
            masks.select(
                F.lit(0).alias("_g"),
                F.struct("doc_id", "m", "k").alias("dm"),
            ),
            ["_g"],
            "dm",
            n_rows=masks.count(),
        )

        def _jac(inter: F.Column, ka: F.Column, kb: F.Column) -> F.Column:
            # |A∪B| = |A|+|B|-|A∩B|; double division mirrors the
            # array-path NULL/zero semantics exactly
            return inter.cast("double") / (ka + kb - inter)

        p_inter = F.bit_count(F.col("id_a.m").bitwiseAND(F.col("id_b.m")))
        truth = pairs.filter(
            _jac(p_inter, F.col("id_a.k"), F.col("id_b.k")) >= 0.5
        ).select(
            F.col("id_a.doc_id").alias("doc_a"),
            F.col("id_b.doc_id").alias("doc_b"),
        )
        ma = masks.select(
            F.col("doc_id").alias("c_a"),
            F.col("m").alias("m_a"),
            F.col("k").alias("k_a"),
        )
        mb = masks.select(
            F.col("doc_id").alias("c_b"),
            F.col("m").alias("m_b"),
            F.col("k").alias("k_b"),
        )
        c_inter = F.bit_count(F.col("m_a").bitwiseAND(F.col("m_b")))
        caught = (
            cand.join(F.broadcast(ma), "c_a")
            .join(F.broadcast(mb), "c_b")
            .filter(_jac(c_inter, F.col("k_a"), F.col("k_b")) >= 0.5)
        )
        # one union-aggregate (no 1×1 cross join): truth rows tagged
        # t=1, caught-candidate rows tagged t=0
        tagged = truth.select(F.lit(1).alias("t")).unionAll(
            caught.select(F.lit(0).alias("t"))
        )
        n_true = F.count(F.when(F.col("t") == 1, True))
        n_caught = F.count(F.when(F.col("t") == 0, True))
        return tagged.agg(
            n_true.alias("n_true_pairs"),
            n_caught.cast("bigint").alias("n_caught"),
            # zero true pairs (empty corpus): recall NULL on both
            # engines via mirrored nullif (zero-row audit, round 10)
            F.round(
                n_caught.cast("double") / F.nullif(n_true, F.lit(0)), 4
            ).alias("recall"),
        )
    # --- generic path (real vocabularies): inverted index ----------
    ws = docs.select(
        "doc_id", words.alias("words")
    ).localCheckpoint(eager=True)
    inv = ws.select("doc_id", F.explode("words").alias("tok"))
    i2 = inv.select(F.col("doc_id").alias("doc_b"), F.col("tok").alias("tok2"))
    shared = (
        inv.select(F.col("doc_id").alias("doc_a"), "tok")
        .join(i2, (F.col("tok") == F.col("tok2")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b")
        .distinct()
    )
    wa = ws.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("wa"))
    wb = ws.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("wb"))
    jac = F.size(F.array_intersect("wa", "wb")).cast("double") / F.size(
        F.array_union("wa", "wb")
    )
    truth = (
        shared.join(wa, "doc_a")
        .join(wb, "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    hit = truth.join(
        cand, (F.col("doc_a") == F.col("c_a")) & (F.col("doc_b") == F.col("c_b")), "left"
    )
    return hit.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.count("c_a").cast("bigint").alias("n_caught"),
        # zero true pairs (empty corpus): recall NULL on both engines
        # via mirrored nullif (zero-row audit, round 10)
        F.round(
            F.count("c_a").cast("double")
            / F.nullif(F.count(F.lit(1)), F.lit(0)),
            4,
        ).alias("recall"),
    )


# --------------------------------------------------------------------------
def _threshold_sweep_oracle() -> str:
    from duckdb_hdfs_spark.functions.vectors import dot_sql, norm_sql
    from duckdb_hdfs_spark.operators.similarity import lsh_band_keys_sql

    d = dot_sql("a.embedding", "b.embedding")
    return f"""
WITH v AS (
    SELECT vec_id, embedding,
           {norm_sql('embedding')} AS nrm,
           unnest({lsh_band_keys_sql('embedding')}) AS band_key
    FROM embeddings
),
pairs AS MATERIALIZED (
    SELECT a.vec_id AS va, b.vec_id AS vb,
           max({d} / (a.nrm * b.nrm)) AS cos
    FROM v a JOIN v b ON a.band_key = b.band_key AND a.vec_id < b.vec_id
    GROUP BY va, vb
)
SELECT tau, CAST(count(*) FILTER (WHERE cos >= tau) AS BIGINT) AS n_pairs
FROM pairs, (SELECT unnest([0.3, 0.5, 0.7, 0.9]) AS tau)
GROUP BY tau
"""


@query("dedup_embedding_threshold_sweep", oracle=_threshold_sweep_oracle())
def dedup_embedding_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-threshold calibration sweep (round 5): candidate-pair
    counts at τ ∈ {0.3, 0.5, 0.7, 0.9} from ONE scoring pass — the
    panel that picks the dedup threshold before committing a 100 TB
    run (each τ trades recall against deletion volume; re-scoring per
    τ would 4× the dominant cost).

    Scale shape: band-bucket candidates scored once, deduplicated to
    per-pair max cosine (a pair can share several buckets), then a
    4-way conditional count over a broadcast τ list — the sweep adds
    one tiny fan-out join, not another corpus pass.  Round 7: the
    original band-key SELF-JOIN executed the banding pipeline twice
    (DataFrame reuse is plan reuse) and left fat buckets to AQE; the
    pairs now come from the shared
    operators.dedup.banded_embedding_pairs prelude (salted cell
    partitioner, payload in the id struct) — one pipeline pass,
    per-task state O(chunk²) regardless of bucket skew, identical
    pair set (verified value-identical at sf0.1)."""
    from duckdb_hdfs_spark.operators.dedup import banded_embedding_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = (
        banded_embedding_pairs(emb, rebalance=True)
        .groupBy(
            F.col("vec_a").alias("va"), F.col("vec_b").alias("vb")
        )
        .agg(F.max("cos").alias("cos"))
    )
    taus = local_frame(spark, [(t,) for t in (0.3, 0.5, 0.7, 0.9)], "tau double")
    return (
        pairs.join(F.broadcast(taus))
        .groupBy("tau")
        .agg(
            F.count(F.when(F.col("cos") >= F.col("tau"), 1))
            .cast("bigint")
            .alias("n_pairs")
        )
    )


# --------------------------------------------------------------------------
_SWEEP_CONFIGS = ((12, 1), (6, 2), (4, 3), (3, 4), (2, 6))  # (bands, rows)


def _sweep_arm_sql(nb: int, rows: int) -> str:
    """One UNION arm of the band-sweep oracle: bucket-mass stats for
    a (bands × rows) regrouping of the shared 12-perm signature."""
    return f"""
SELECT 'b{nb}r{rows}' AS config,
       CAST(sum((sz * (sz - 1)) // 2) AS BIGINT) AS candidate_pair_mass,
       count(*) AS n_buckets_multi,
       CAST(max(sz) AS BIGINT) AS max_bucket
FROM (
    SELECT band_idx, band_key, count(*) AS sz FROM (
        SELECT doc_id, gs.i - 1 AS band_idx,
               {band_keys_sql('sig', band_rows=rows, num_bands=nb)}[gs.i]
                   AS band_key
        FROM sigs
        CROSS JOIN (SELECT unnest(generate_series(1, {nb})) AS i) gs
    ) GROUP BY band_idx, band_key
) WHERE sz > 1"""


@query(
    "dedup_lsh_band_sweep",
    oracle=f"""
WITH
sh AS (
    SELECT doc_id, {_SHINGLES_SQL} AS shingles
    FROM (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
          WHERE text IS NOT NULL)
),
hs AS (
    SELECT doc_id,
           list_transform(shingles, s -> {shingle_hash_sql('s')}) AS hashes
    FROM sh
),
sigs AS (
    SELECT doc_id, {minhash_sigints_sql('hashes')} AS sig FROM hs
)
{' UNION ALL '.join(_sweep_arm_sql(nb, rows) for nb, rows in _SWEEP_CONFIGS)}
""",
)
def dedup_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band/row S-curve calibration sweep: candidate-pair mass
    (Σ C(bucket, 2)), multi-doc bucket count, and max bucket size for
    FIVE (bands × rows) regroupings of the SAME 12-permutation
    minhash signature — b12r1 (recall-greedy) through b2r6
    (precision-greedy).  This is the table an engineer reads before
    committing a 100 TB dedup run: pair mass IS the shuffle+compare
    cost of the pair stage, and the sweep prices every config from
    one signature pass (dedup_lsh_recall_eval measures recall; this
    measures cost).

    Scale shape: the signature frame (doc_id + 12 ints) is computed
    ONCE and localCheckpoint-ed; each config is a map-side band-key
    array + posexplode + partial-aggregated bucket count — counts,
    never pair explosion (C(n,2) is computed from bucket SIZES).  The
    5 config arms union as 1-row aggregates."""
    from duckdb_hdfs_spark.functions.hashing import NUM_PERM
    from duckdb_hdfs_spark.operators.dedup import minhash_signature_cols

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signature_cols(docs).localCheckpoint(eager=True)
    arms = []
    for nb, rows in _SWEEP_CONFIGS:
        assert nb * rows == NUM_PERM
        bands = F.array(
            *[
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col(f"m{b * rows + r}") for r in range(rows)],
                    )
                )
                for b in range(nb)
            ]
        )
        banded = sig.select(F.posexplode(bands).alias("band_idx", "band_key"))
        sizes = (
            banded.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("sz"))
            .filter(F.col("sz") > 1)
        )
        arms.append(
            sizes.agg(
                F.lit(f"b{nb}r{rows}").alias("config"),
                F.sum(F.expr("(sz * (sz - 1)) div 2")).alias(
                    "candidate_pair_mass"
                ),
                F.count(F.lit(1)).alias("n_buckets_multi"),
                F.max("sz").alias("max_bucket"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# --------------------------------------------------------------------------
@query(
    "dedup_chain_capture_eval",
    oracle=f"""
WITH RECURSIVE
sh AS (
    SELECT doc_id, {_SHINGLES_SQL} AS shingles
    FROM (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents)
),
hs AS (
    SELECT doc_id,
           list_transform(shingles, s -> {shingle_hash_sql('s')}) AS hashes
    FROM sh
),
sigs AS (
    SELECT doc_id, {minhash_sigints_sql('hashes')} AS sig FROM hs
),
banded AS (
    SELECT doc_id, gs.i - 1 AS band_idx, {band_keys_sql('sig')}[gs.i] AS band_key
    FROM sigs
    CROSS JOIN (SELECT unnest(generate_series(1, {NUM_BANDS})) AS i) gs
),
{_PAIRS_SQL},
ws AS (SELECT doc_id, list_distinct({tokens_sql('text')}) AS words
       FROM documents),
scored AS (
    SELECT p.doc_a, p.doc_b,
           CAST(len(list_intersect(wa.words, wb.words)) AS DOUBLE)
               / len(list_distinct(list_concat(wa.words, wb.words))) AS j
    FROM pairs p
    JOIN ws wa ON p.doc_a = wa.doc_id
    JOIN ws wb ON p.doc_b = wb.doc_id
),
strong AS (SELECT doc_a, doc_b FROM scored WHERE j >= 0.6),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM strong
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM strong
),
reach(node, label) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
),
clusters AS (SELECT node, min(label) AS cid FROM reach GROUP BY node),
weak AS (
    SELECT s.j,
           CASE WHEN ca.cid IS NOT NULL AND ca.cid = cb.cid
                THEN 1 ELSE 0 END AS captured
    FROM scored s
    LEFT JOIN clusters ca ON s.doc_a = ca.node
    LEFT JOIN clusters cb ON s.doc_b = cb.node
    WHERE s.j < 0.6
)
SELECT CAST((SELECT count(*) FROM strong) AS BIGINT) AS n_strong_pairs,
       CAST(count(*) AS BIGINT) AS n_weak_pairs,
       CAST(sum(captured) AS BIGINT) AS n_weak_captured,
       round(CAST(sum(CASE WHEN captured = 1
                  THEN CAST(round(j, 6) AS DECIMAL(18,6)) END) AS DOUBLE)
             / nullif(sum(captured), 0), 6) AS captured_mean_j,
       round(CAST(sum(CASE WHEN captured = 0
                  THEN CAST(round(j, 6) AS DECIMAL(18,6)) END) AS DOUBLE)
             / nullif(count(*) - sum(captured), 0), 6) AS uncaptured_mean_j
FROM weak
""",
)
def dedup_chain_capture_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-chaining audit for threshold dedup: cluster on
    STRONG candidate pairs (Jaccard ≥ 0.6), then measure how many
    sub-threshold candidate pairs end up INSIDE one cluster anyway —
    the classic near-dup failure mode where A~B~C chains glue
    unrelated documents (captured weak pairs with LOW mean Jaccard =
    over-merging; the keeper then deletes non-duplicates).  One row:
    strong/weak pair counts, weak pairs captured by transitivity, and
    mean Jaccard of captured vs uncaptured weak pairs.

    Determinism: the Jaccard threshold compares the raw
    integer-ratio double (identical on both engines); mean Jaccards
    round per-pair to 6 decimals then sum in DECIMAL.

    Scale shape: candidate scoring is the bucket-bounded
    jaccard_pairs pass, checkpointed once for the strong filter, the
    weak filter, and the two cluster-map joins; clustering is the
    pointer-jumping CC operator over the thresholded (smaller) edge
    set; the final row is a 1-row aggregate."""
    from duckdb_hdfs_spark.operators.dedup import connected_clusters

    docs = _t(spark, sf_dir, "documents")
    scored = jaccard_pairs(docs, minhash_candidate_pairs(docs)).localCheckpoint(
        eager=True
    )
    strong = scored.filter(F.col("jaccard") >= 0.6)
    clusters = connected_clusters(
        strong.select("doc_a", "doc_b")
    ).localCheckpoint(eager=True)
    ca = clusters.select(
        F.col("node").alias("doc_a"), F.col("cluster_id").alias("cid_a")
    )
    cb = clusters.select(
        F.col("node").alias("doc_b"), F.col("cluster_id").alias("cid_b")
    )
    weak = (
        scored.filter(F.col("jaccard") < 0.6)
        .join(ca, "doc_a", "left")
        .join(cb, "doc_b", "left")
        .withColumn(
            "captured",
            F.when(
                F.col("cid_a").isNotNull()
                & (F.col("cid_a") == F.col("cid_b")),
                1,
            ).otherwise(0),
        )
    )
    n_strong = strong.agg(F.count(F.lit(1)).alias("n_strong_pairs"))
    jdec = F.round(F.col("jaccard"), 6).cast("decimal(18,6)")
    return (
        weak.agg(
            F.count(F.lit(1)).alias("n_weak_pairs"),
            F.sum("captured").alias("n_weak_captured"),
            F.round(
                F.sum(F.when(F.col("captured") == 1, jdec)).cast("double")
                / F.nullif(F.sum("captured"), F.lit(0)),
                6,
            ).alias("captured_mean_j"),
            F.round(
                F.sum(F.when(F.col("captured") == 0, jdec)).cast("double")
                / F.nullif(
                    F.count(F.lit(1)) - F.sum("captured"), F.lit(0)
                ),
                6,
            ).alias("uncaptured_mean_j"),
        )
        .join(F.broadcast(n_strong))
        .select(
            "n_strong_pairs",
            "n_weak_pairs",
            "n_weak_captured",
            "captured_mean_j",
            "uncaptured_mean_j",
        )
    )


# --------------------------------------------------------------------------
@query(
    "dedup_shingle_sensitivity",
    oracle=f"""
WITH
sh AS (
    SELECT doc_id, {_SHINGLES_SQL} AS shingles
    FROM (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents)
),
hs AS (
    SELECT doc_id,
           list_transform(shingles, s -> {shingle_hash_sql('s')}) AS hashes
    FROM sh
),
sigs AS (
    SELECT doc_id, {minhash_sigints_sql('hashes')} AS sig FROM hs
),
banded AS (
    SELECT doc_id, gs.i - 1 AS band_idx, {band_keys_sql('sig')}[gs.i] AS band_key
    FROM sigs
    CROSS JOIN (SELECT unnest(generate_series(1, {NUM_BANDS})) AS i) gs
),
{_PAIRS_SQL},
g2 AS (SELECT doc_id, {word_shingles_sql('toks', k=2)} AS g
       FROM (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents)),
g3 AS (SELECT doc_id, {word_shingles_sql('toks', k=3)} AS g
       FROM (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents)),
scored AS (
    SELECT p.doc_a, p.doc_b,
           round(CAST(len(list_intersect(a2.g, b2.g)) AS DOUBLE)
                 / len(list_distinct(list_concat(a2.g, b2.g))), 6) AS j2,
           round(CAST(len(list_intersect(a3.g, b3.g)) AS DOUBLE)
                 / len(list_distinct(list_concat(a3.g, b3.g))), 6) AS j3
    FROM pairs p
    JOIN g2 a2 ON p.doc_a = a2.doc_id
    JOIN g2 b2 ON p.doc_b = b2.doc_id
    JOIN g3 a3 ON p.doc_a = a3.doc_id
    JOIN g3 b3 ON p.doc_b = b3.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(CAST(j2 AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
           AS mean_j2,
       round(CAST(sum(CAST(j3 AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
           AS mean_j3,
       CAST(sum(CASE WHEN j2 >= 0.6 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_at_k2,
       CAST(sum(CASE WHEN j3 >= 0.6 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_at_k3,
       CAST(sum(CASE WHEN (j2 >= 0.6) <> (j3 >= 0.6) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_verdict_flips
FROM scored
""",
)
def dedup_shingle_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-size SENSITIVITY eval: the same candidate pairs scored
    with 2-gram AND 3-gram Jaccard, reporting how many pairs flip the
    ≥0.6 duplicate verdict between the two — the k knob changes what
    'near-duplicate' MEANS (k=2 forgiving of reordering, k=3 strict
    on phrasing), and this table quantifies the disagreement BEFORE a
    100 TB run bakes one in (completing the parameter-calibration
    family: band sweep = pair cost, recall eval = banding quality,
    this = scoring-definition stability).

    Determinism: both Jaccards round to 6 then DECIMAL-sum for the
    means; verdict flips compare the rounded values identically.

    Scale shape: ONE candidate stream (band-bucket bounded), each
    side's 2-gram and 3-gram sets attached by doc-keyed joins, a
    1-row rollup."""
    from duckdb_hdfs_spark.functions.hashing import tokens, word_shingles

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs).localCheckpoint(eager=True)
    grams = docs.select(
        "doc_id",
        word_shingles(tokens(F.col("text")), 2).alias("g2"),
        word_shingles(tokens(F.col("text")), 3).alias("g3"),
    ).localCheckpoint(eager=True)
    ga = grams.select(
        F.col("doc_id").alias("doc_a"),
        F.col("g2").alias("g2_a"),
        F.col("g3").alias("g3_a"),
    )
    gb = grams.select(
        F.col("doc_id").alias("doc_b"),
        F.col("g2").alias("g2_b"),
        F.col("g3").alias("g3_b"),
    )
    j2 = F.round(
        F.size(F.array_intersect("g2_a", "g2_b")).cast("double")
        / F.size(F.array_union("g2_a", "g2_b")),
        6,
    )
    j3 = F.round(
        F.size(F.array_intersect("g3_a", "g3_b")).cast("double")
        / F.size(F.array_union("g3_a", "g3_b")),
        6,
    )
    scored = (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(j2.alias("j2"), j3.alias("j3"))
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum(F.col("j2").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_j2"),
        F.round(
            F.sum(F.col("j3").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_j3"),
        F.sum(F.when(F.col("j2") >= 0.6, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_at_k2"),
        F.sum(F.when(F.col("j3") >= 0.6, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_at_k3"),
        F.sum(
            F.when((F.col("j2") >= 0.6) != (F.col("j3") >= 0.6), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_verdict_flips"),
    )


# --------------------------------------------------------------------------
def _semdedup_oracle() -> str:
    from duckdb_hdfs_spark.functions.vectors import cosine_sql

    return f"""
WITH cents AS (
    SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
    ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8
),
assign AS MATERIALIZED (
    SELECT vec_id, embedding, cent_id FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {cosine_sql('e.embedding', 'c.cent')} DESC,
                            c.cent_id) AS crk
        FROM embeddings e, cents c
    ) WHERE crk = 1
),
dropped AS (
    SELECT DISTINCT b.vec_id
    FROM assign a
    JOIN assign b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    WHERE {cosine_sql('a.embedding', 'b.embedding')} >= 0.3
)
SELECT a.vec_id, a.cent_id, (d.vec_id IS NOT NULL) AS dropped
FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


@query("dedup_semdedup", oracle=_semdedup_oracle())
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — SEMANTIC
    dedup by clustering-then-pruning (round 8): every embedding is
    assigned to its nearest codebook centroid (the k-means cell), and
    within each cell any vector whose cosine to a LOWER-id cell-mate
    reaches the threshold is pruned — the keep-first-representative
    policy that removed 50% of LAION with no quality loss in the
    paper.  Differs from dedup_embedding_clusters (LSH-candidate
    connected components) exactly as published SemDeDup differs from
    near-dup graph clustering: pair search is bounded by the SEMANTIC
    cell, so paraphrases land in the same cell even when no LSH band
    collides, and no transitive chaining occurs across cells.

    Scale shape: cell assignment is the map-side broadcast-codebook
    argmax (operators/similarity.assign_nearest — no corpus-keyed
    Exchange); within-cell pair enumeration rides the salted cell
    partitioner (operators/dedup.bucketed_pairs at EMB_PAIR_CHUNK)
    keyed on cent_id, so a fat cell — SemDeDup's k is small, cells
    are BIG by construction — keeps O(chunk²) per-task state and
    spreads its cells across the cluster; the verdict is one
    distinct + one left anti-ish join at vector grain.  Threshold
    compares the UNROUNDED cosine (bit-identical fold both engines,
    the dedup_embedding_cos contract)."""
    from duckdb_hdfs_spark.functions.vectors import dot_expr, norm_fold_expr
    from duckdb_hdfs_spark.operators.dedup import (
        EMB_PAIR_CHUNK,
        bucketed_pairs,
    )
    from duckdb_hdfs_spark.operators.rebalance import rebalance_cpu_heavy
    from duckdb_hdfs_spark.operators.similarity import (
        assign_nearest,
        centroid_codebook,
    )

    emb = _t(spark, sf_dir, "embeddings")
    corpus = rebalance_cpu_heavy(
        emb.select("vec_id", F.col("embedding").alias("e"))
    ).select("vec_id", "e", norm_fold_expr("e").alias("nrm"))
    assign = (
        assign_nearest(corpus, centroid_codebook(emb, 8), "e", "nrm", top=1)
        # the pair branch and the verdict branch both read the
        # assignment: materialize once or the broadcast-argmax scan
        # re-runs per branch
        .localCheckpoint(eager=True)
    )
    v = assign.select(
        F.struct("vec_id", "e", "nrm").alias("vid"), "cent_id"
    )
    cos = F.expr(
        f"{dot_expr('id_a.e', 'id_b.e')} / (id_a.nrm * id_b.nrm)"
    )
    dropped = (
        bucketed_pairs(v, ["cent_id"], "vid", chunk=EMB_PAIR_CHUNK)
        .filter(cos >= 0.3)
        .select(F.col("id_b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return assign.select("vec_id", "cent_id").join(
        dropped, "vec_id", "left"
    ).select(
        "vec_id",
        "cent_id",
        F.coalesce(F.col("__drop"), F.lit(False)).alias("dropped"),
    )


# --------------------------------------------------------------------------
#: exact-substring span parameters: gram width (tokens per match
#: unit), doc-frequency cap on a gram before it is dropped as
#: boilerplate (bounds the position join's per-gram fan-out at
#: MAXDF·(MAXDF−1)/2 pairs), and the minimum consecutive matched
#: grams for a reported run (span length = grams + K − 1 tokens).
SPAN_K = 8
SPAN_MAXDF = 8
SPAN_MIN_GRAMS = 3


def _substring_spans_oracle() -> str:
    from duckdb_hdfs_spark.functions.hashing import (
        md5_int60_sql,
        tokens_sql,
    )

    toks = tokens_sql("text")
    k = SPAN_K
    joined = " || ' ' || ".join(
        [f"tk[i]"] + [f"coalesce(tk[i+{j}], '')" for j in range(1, k)]
    )
    return f"""
WITH tk AS (SELECT doc_id, {toks} AS tk FROM documents),
pos AS (
    SELECT doc_id, i, {md5_int60_sql(joined)} AS h
    FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - {k - 1}))
                 AS i
          FROM tk WHERE len(tk) >= {k})
),
df AS (
    SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM pos GROUP BY h)
    WHERE nd BETWEEN 2 AND {SPAN_MAXDF}
),
m AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.i AS ia, a.i - b.i AS diag
    FROM pos a JOIN df USING (h) JOIN pos b USING (h)
    WHERE a.doc_id < b.doc_id
),
runs AS (
    SELECT doc_a, doc_b, diag,
           ia - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                   ORDER BY ia) AS run_id,
           ia
    FROM m
)
SELECT doc_a, doc_b,
       CAST(min(ia) AS BIGINT) AS start_a,
       CAST(min(ia) - diag AS BIGINT) AS start_b,
       CAST(count(*) + {k - 1} AS BIGINT) AS span_tokens
FROM runs
GROUP BY doc_a, doc_b, diag, run_id
HAVING count(*) >= {SPAN_MIN_GRAMS}
"""


# headline: the newest quadratic-risk dedup shape (r9 verdict task 6);
# DuckDB baseline re-measured at sf0.1 in README
@query("dedup_substring_spans", oracle=_substring_spans_oracle(), headline=True)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT-SUBSTRING duplicated runs (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"
    — the substring half of that paper beside its MinHash half): for
    every document pair sharing a run of ≥ SPAN_MIN_GRAMS consecutive
    {K}-gram matches, report the maximal run (start positions in both
    docs + token length).  text_span_dedup profiles per-DOC span
    duplication; this localizes per-PAIR maximal runs — the output a
    span-removal pass consumes.  The suffix-array formulation of the
    paper is replaced by the islands-and-gaps equivalent: matched
    gram positions at constant diagonal (i−j) with consecutive i form
    exactly the maximal shared substrings.

    Determinism: pure integer positions and md5 gram hashes; the
    only window orders by (pair, diag, position) — unique keys.

    Scale shape: gram+position explode is map-side; the
    doc-frequency filter (2 ≤ df ≤ SPAN_MAXDF) bounds the position
    join's per-gram fan-out at df² — ultra-common boilerplate grams
    are dropped EXACTLY as the paper's implementations cap posting
    lists; the islands window partitions by (pair, diagonal), whose
    groups are run-length bounded.  One gram-keyed shuffle for df,
    one for the position join, one pair-keyed window."""
    docs = _t(spark, sf_dir, "documents")
    return substring_spans_pipeline(docs)[1]


def substring_spans_pipeline(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The dedup_substring_spans pipeline over an arbitrary
    (doc_id, text) frame.  Returns ``(matches, spans)`` — the
    pre-window matched-position frame (whose count is the
    candidate-position mass the volume-slope audit records,
    scripts/substring_slope.py) and the final maximal-span output.

    Both sides of the position join are df_ok-filtered: rows of the
    build side whose gram fails the 2..SPAN_MAXDF doc-frequency cap
    can never match the (filtered) probe side, so filtering them too
    is semantics-free and keeps boilerplate grams (df > cap, the
    heavy tail) out of the join shuffle entirely — at 100 TB the cap
    is exactly a posting-list cap and the unfiltered side would
    shuffle the full position list of every ultra-common gram."""
    from duckdb_hdfs_spark.functions.hashing import md5_int60, tokens
    from pyspark.sql import Window

    k = SPAN_K
    # Gram build: slice + array_join over a PROJECTED token column —
    # NOT word_kgrams' k−1 zip_with passes, whose intermediate arrays
    # copy each token O(k) times (1+2+…+k token concatenations per
    # gram; measured 3.7 → 2.1s at sf0.1 on this pipeline, the round-10
    # A/B in SURVEY §4).  No padding either: docs with nt < k are
    # dropped by the inline filter, and at nt ≥ k every slice(tk, i, k)
    # with i ≤ nt−k+1 is full, so the padded tail word_kgrams adds for
    # short docs is unreachable here.  tk/nt are referenced twice, so
    # CollapseProject keeps the tokenize projected (evaluated once per
    # row, never inlined into the per-element lambda).  posexplode is
    # 0-based; +1 matches the oracle's generate_series.
    # graded rebalance before the CPU-heavy gram build (round 11):
    # the tokenize → per-gram slice/join → md5 map phase was running
    # at the SCAN's parallelism — one effective task on a
    # single-row-group file (the same stage shape the minhash and
    # winnowing pipelines already rebalance); interleaved A/B at
    # sf0.1: 2.28 → 1.69s median, rows identical.  No-op whenever
    # the scan is already well split (the 100 TB case).
    from duckdb_hdfs_spark.operators.rebalance import rebalance_cpu_heavy

    base = rebalance_cpu_heavy(docs.select("doc_id", "text")).select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    n = F.greatest(F.size("tk") - (k - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(F.col("tk"), i, k), " "),
    )
    # posexplode WITHOUT InferFiltersFromGenerate (round 11, see
    # operators/genutil.py): the inferred size(grams)>0 filter would
    # re-evaluate the whole tokenize→slice→array_join gram build
    # below the rebalance exchange, serially, per scan task.  Gram
    # arrays never hold NULL elements (array_join over non-null
    # slices), so outer+filter is row-identical.
    from duckdb_hdfs_spark.operators.genutil import posexplode_nonnull_elems

    pos = (
        posexplode_nonnull_elems(
            base, grams, "pos", "col", "doc_id", F.size("tk").alias("nt")
        )
        .filter(F.col("nt") >= k)
        .select(
            "doc_id",
            (F.col("pos") + 1).alias("i"),
            md5_int60(F.col("col")).alias("h"),
        )
        .localCheckpoint(eager=True)
    )
    df_ok = (
        pos.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= SPAN_MAXDF))
        .select("h")
    )
    pf = pos.join(df_ok, "h").localCheckpoint(eager=True)
    a = pf.select(F.col("doc_id").alias("doc_a"), F.col("i").alias("ia"), "h")
    b = pf.select(F.col("doc_id").alias("doc_b"), F.col("i").alias("ib"), "h")
    m = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "ia",
            (F.col("ia") - F.col("ib")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")
    runs = m.withColumn("run_id", F.col("ia") - F.row_number().over(w))
    spans = (
        runs.groupBy("doc_a", "doc_b", "diag", "run_id")
        .agg(F.min("ia").alias("min_ia"), F.count(F.lit(1)).alias("ngrams"))
        .filter(F.col("ngrams") >= SPAN_MIN_GRAMS)
        .select(
            "doc_a",
            "doc_b",
            F.col("min_ia").cast("bigint").alias("start_a"),
            (F.col("min_ia") - F.col("diag")).cast("bigint").alias("start_b"),
            (F.col("ngrams") + (k - 1)).cast("bigint").alias("span_tokens"),
        )
    )
    return m, spans
