"""Z-order layout registry entry (SURVEY.md §2.11).

Registered after ``llmextra`` in ``_QUERY_MODULES`` — past the
driver's 50-entry window this round (the window is allocated to the
§2.5-2.10 surface); oracle-checked by the local sf0.001/sf0.01
sweeps, rotating into the driver window next round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_hdfs_spark.operators.genutil import local_frame
from duckdb_hdfs_spark.operators.layout import zorder_key, zorder_key_sql
from duckdb_hdfs_spark.queries import query
from duckdb_hdfs_spark.queries._helpers import _t

_ZBITS = 8
_ZSQL = zorder_key_sql(["user_id", "floor(value)"], bits=_ZBITS)


# --------------------------------------------------------------------------
@query(
    "layout_zorder_tiles",
    oracle=f"""
WITH z AS (
    SELECT (user_id & 255) AS a,
           (CAST(floor(value) AS BIGINT) & 255) AS b,
           {_ZSQL} AS zkey
    FROM events
)
SELECT (zkey >> 8) AS tile,
       count(*) AS n_events,
       min(a) AS min_a, max(a) AS max_a,
       min(b) AS min_b, max(b) AS max_b
FROM z GROUP BY tile
""",
)
def layout_zorder_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-tile audit of the events table: interleave (user_id,
    floor(value)) into a 16-bit Z-key (operators/layout.py:zorder_key
    — pure shift/and/or arithmetic, codegen-inlined) and aggregate
    per 256-key tile.  Each tile's (min,max) bounds in BOTH
    dimensions stay within a 16x16 square — the property that lets
    parquet min/max statistics skip files on either predicate once
    data is written in Z-order (cluster_by_zorder).

    Scale: one map-side key computation + one partial-aggregated
    group-by on a 256-value key — no joins, no windows, one scan."""
    ev = _t(spark, sf_dir, "events")
    a = F.col("user_id").bitwiseAND(F.lit(255))
    b = F.floor(F.col("value")).cast("long").bitwiseAND(F.lit(255))
    z = ev.select(
        a.alias("a"),
        b.alias("b"),
        zorder_key([F.col("user_id"), F.floor(F.col("value"))], bits=_ZBITS).alias(
            "zkey"
        ),
    )
    return (
        z.groupBy(F.shiftright(F.col("zkey"), 8).alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("a").alias("min_a"),
            F.max("a").alias("max_a"),
            F.min("b").alias("min_b"),
            F.max("b").alias("max_b"),
        )
    )


# --------------------------------------------------------------------------
def _hilbert_oracle() -> str:
    from duckdb_hdfs_spark.operators.layout import (
        hilbert_decode_sql,
        hilbert_key_sql,
    )

    keyed = hilbert_key_sql(
        "user_id & 255",
        "CAST(floor(value) AS BIGINT) & 255",
        8,
        # a row with a NULL layout key cannot be placed on the curve —
        # excluded symmetrically (NULL-injection audit r9)
        "(SELECT * FROM events WHERE value IS NOT NULL)",
    )
    tiles = f"""
SELECT (hkey >> 8) AS tile,
       count(*) AS n_events,
       min(hx) AS min_a, max(hx) AS max_a,
       min(hy) AS min_b, max(hy) AS max_b
FROM ({keyed}) GROUP BY tile
"""
    decoded = hilbert_decode_sql("tile", 4, f"({tiles})")
    return f"""
SELECT tile, hdx AS tile_x, hdy AS tile_y, n_events,
       min_a, max_a, min_b, max_b,
       min_a >= hdx * 16 AND max_a < hdx * 16 + 16
       AND min_b >= hdy * 16 AND max_b < hdy * 16 + 16 AS bounds_ok
FROM ({decoded})
"""


@query("layout_hilbert_tiles", oracle=_hilbert_oracle())
def layout_hilbert_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-tile audit of the events table — the locality upgrade
    of layout_zorder_tiles: the same (user_id, floor(value)) 8-bit
    grid keyed by the Hilbert curve (operators/layout.hilbert_key —
    the 4-state quadrant automaton as pure arithmetic + 16-element
    array lookups, whole-stage-codegen friendly), aggregated per
    256-position tile.  Each tile is an axis-aligned 16×16 square
    (bounds_ok pins it via the INVERSE automaton's decoded tile
    coords), and unlike Morton tiles, consecutive Hilbert tiles are
    always edge-adjacent — range reads over the curve touch
    contiguous regions, the property that cuts seek gaps when a
    clustered table is range-scanned on both dimensions.

    Scale: one map-side key computation + one partial-aggregated
    group-by on a 256-value key; the decode runs on the 256-row tile
    panel — no joins, no windows, one scan."""
    from duckdb_hdfs_spark.operators.layout import hilbert_decode, hilbert_key

    # NULL layout keys excluded symmetrically (NULL-injection audit r9)
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    a = F.col("user_id").bitwiseAND(F.lit(255))
    b = F.floor(F.col("value")).cast("long").bitwiseAND(F.lit(255))
    keyed = ev.select(
        a.alias("hx"),
        b.alias("hy"),
        hilbert_key(a, b, bits=8).alias("hkey"),
    )
    tiles = keyed.groupBy(F.shiftright(F.col("hkey"), 8).alias("tile")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("hx").alias("min_a"),
        F.max("hx").alias("max_a"),
        F.min("hy").alias("min_b"),
        F.max("hy").alias("max_b"),
    )
    tx, ty = hilbert_decode(F.col("tile"), 4)
    return tiles.select(
        "tile",
        tx.alias("tile_x"),
        ty.alias("tile_y"),
        "n_events",
        "min_a",
        "max_a",
        "min_b",
        "max_b",
        (
            (F.col("min_a") >= tx * 16)
            & (F.col("max_a") < tx * 16 + 16)
            & (F.col("min_b") >= ty * 16)
            & (F.col("max_b") < ty * 16 + 16)
        ).alias("bounds_ok"),
    )


# --------------------------------------------------------------------------
#: range-partition planning: target output partition count
RANGE_PARTS = 16


def _range_plan_oracle() -> str:
    return f"""
WITH t AS (
    SELECT l_orderkey AS k, l_linenumber AS ln,
           ntile({RANGE_PARTS}) OVER (ORDER BY l_orderkey, l_linenumber)
               AS tile
    FROM lineitem
),
tot AS (SELECT count(*) AS n FROM t)
SELECT tile AS range_id,
       count(*) AS n_rows,
       min(k) AS lo_key,
       max(k) AS hi_key,
       round(count(*) * CAST({RANGE_PARTS} AS DOUBLE) / n, 6) AS skew_ratio
FROM t CROSS JOIN tot
GROUP BY tile, n
"""


@query("layout_range_partition_stats", oracle=_range_plan_oracle())
def layout_range_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partition write planning: split the fact table into
    RANGE_PARTS equal-row key ranges and report each range's key
    bounds and skew ratio (rows x parts / total; 1.0 = perfectly
    balanced).  The layout sibling of Z-order/Hilbert clustering:
    those answer "which rows co-locate", this answers "where do the
    range-partitioned writer's split points go and how balanced will
    the output files be" — the planning read behind
    repartitionByRange / sortWithinPartitions layouts.

    Determinism: the two-phase distributed ntile reproduces SQL
    ntile's exact row allocation over the total (key, linenumber)
    order, so range ids, bounds, and counts hash-match the global
    window oracle; the skew ratio is a ratio of exact integers.

    Scale shape: no global window — operators/ranks.distributed_ntile
    range-buckets on broadcast approximate-quantile bounds, ranks per
    bucket, and composes broadcast prefix offsets (approximation only
    moves bucket SIZES, never the resulting tile of any row); the
    grand total rides the same materialized assignment as a 1-row
    broadcast; one bounded 16-row rollup."""
    from duckdb_hdfs_spark.operators.ranks import distributed_ntile

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), F.col("l_linenumber").alias("ln")
    )
    tiled = distributed_ntile(
        li, [("k", "asc"), ("ln", "asc")], "tile", n_buckets=RANGE_PARTS
    )
    # distributed_ntile eagerly checkpoints its bucket assignment, so
    # the grand-total branch reuses the materialized frame — lineitem
    # is scanned once
    tot = tiled.agg(F.count(F.lit(1)).alias("n"))
    return (
        tiled.groupBy(F.col("tile").alias("range_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("k").alias("lo_key"),
            F.max("k").alias("hi_key"),
        )
        .join(F.broadcast(tot))
        .select(
            "range_id",
            "n_rows",
            "lo_key",
            "hi_key",
            F.round(
                F.col("n_rows") * float(RANGE_PARTS) / F.col("n"), 6
            ).alias("skew_ratio"),
        )
    )


# --------------------------------------------------------------------------
_ZM_PREDS = (
    ("q2_1996", "1996-04-01", "1996-06-30"),
    ("q3_1997", "1997-07-01", "1997-09-30"),
    ("q1_1999", "1999-01-01", "1999-03-31"),
    ("q4_2000", "2000-10-01", "2000-12-31"),
)
_ZM_ZONES = 64
_ZM_DAYS_PER_ZONE = 40  # ~2500-day shipdate span / 64 zones
_ZM_ANCHOR = "1995-01-01"


def _zonemap_oracle() -> str:
    preds = ",\n         ".join(
        f"('{n}', date_diff('day', TIMESTAMP '{_ZM_ANCHOR} 00:00:00',"
        f" TIMESTAMP '{lo} 00:00:00'),"
        f" date_diff('day', TIMESTAMP '{_ZM_ANCHOR} 00:00:00',"
        f" TIMESTAMP '{hi} 00:00:00'))"
        for n, lo, hi in _ZM_PREDS
    )
    return f"""
WITH wk AS (
    SELECT CAST(ceil((max(l_orderkey) + 1) / {_ZM_ZONES}.0) AS BIGINT) AS w
    FROM lineitem
),
rows_tagged AS (
    SELECT date_diff('day', TIMESTAMP '{_ZM_ANCHOR} 00:00:00', l_shipdate)
               AS day_no,
           l_orderkey // (SELECT w FROM wk) AS zone_arrival,
           date_diff('day', TIMESTAMP '{_ZM_ANCHOR} 00:00:00', l_shipdate)
               // {_ZM_DAYS_PER_ZONE} AS zone_clustered
    FROM lineitem
),
zones AS (
    SELECT layout, zone, count(*) AS n_rows,
           min(day_no) AS lo_day, max(day_no) AS hi_day
    FROM (
        SELECT 'arrival' AS layout, zone_arrival AS zone, day_no
        FROM rows_tagged
        UNION ALL
        SELECT 'clustered' AS layout, zone_clustered AS zone, day_no
        FROM rows_tagged
    ) GROUP BY layout, zone
),
preds(pred, p_lo, p_hi) AS (
    VALUES {preds}
)
SELECT preds.pred AS predicate, zones.layout,
       CAST(count(*) AS BIGINT) AS zones_total,
       CAST(sum(CASE WHEN hi_day < p_lo OR lo_day > p_hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS zones_skipped,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN hi_day < p_lo OR lo_day > p_hi
                     THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped,
       round(CAST(sum(CASE WHEN hi_day < p_lo OR lo_day > p_hi
                           THEN n_rows ELSE 0 END) AS DOUBLE)
             / sum(n_rows), 6) AS skip_ratio
FROM zones, preds
GROUP BY preds.pred, zones.layout
"""


@query("layout_zonemap_prune", oracle=_zonemap_oracle())
def layout_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max data-skipping) effectiveness audit
    (round 9): the measurement behind every clustering decision this
    module's z-order/Hilbert/range-partition planners exist to serve.
    lineitem is carved into 64 zones two ways — `arrival`
    (contiguous orderkey ranges: how a fact lands from ingest) and
    `clustered` (shipdate ranges: what a sort-on-write produces) —
    and each zone keeps the (min,max) shipdate footer a parquet
    row-group would.  For four quarter predicates the panel reports
    how many zones (and rows) each layout lets the scanner SKIP:
    arrival zones span the whole date range (skip ≈ 0), clustered
    zones prune ~94% — the number that justifies paying the sort at
    write time at 100 TB.

    Determinism: zone ids and day numbers are exact integer
    arithmetic off a fixed calendar anchor; counts are integers; the
    one ratio is a single rounded double division.

    Scale shape: ONE lineitem scan (the two layout tags ride the
    same row through a 2-way explode), one partial-aggregated
    shuffle to the ≤2×64-row zone panel, then a broadcast
    cross of that panel with the 4-row literal predicate table."""
    li = _t(spark, sf_dir, "lineitem")
    wk = li.agg(
        F.ceil((F.max("l_orderkey") + 1) / float(_ZM_ZONES))
        .cast("bigint")
        .alias("w")
    )
    day_no = F.datediff(F.col("l_shipdate"), F.lit(_ZM_ANCHOR).cast("date"))
    tagged = li.join(F.broadcast(wk)).select(
        day_no.alias("day_no"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("arrival").alias("layout"),
                    (F.col("l_orderkey") / F.col("w"))
                    .cast("bigint")
                    .alias("zone"),
                ),
                F.struct(
                    F.lit("clustered").alias("layout"),
                    F.floor(day_no / _ZM_DAYS_PER_ZONE).alias("zone"),
                ),
            )
        ).alias("lz"),
    )
    zones = (
        tagged.select("day_no", "lz.layout", "lz.zone")
        .groupBy("layout", "zone")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("day_no").alias("lo_day"),
            F.max("day_no").alias("hi_day"),
        )
    )
    anchor = F.lit(_ZM_ANCHOR).cast("date")
    preds = local_frame(
        spark, _ZM_PREDS, "pred string, lo string, hi string"
    ).select(
        "pred",
        F.datediff(F.col("lo").cast("date"), anchor).alias("p_lo"),
        F.datediff(F.col("hi").cast("date"), anchor).alias("p_hi"),
    )
    skipped = (F.col("hi_day") < F.col("p_lo")) | (
        F.col("lo_day") > F.col("p_hi")
    )
    return (
        zones.join(F.broadcast(preds))
        .groupBy(F.col("pred").alias("predicate"), "layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("zones_total"),
            F.sum(F.when(skipped, 1).otherwise(0))
            .cast("bigint")
            .alias("zones_skipped"),
            F.sum("n_rows").cast("bigint").alias("rows_total"),
            F.sum(F.when(skipped, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_skipped"),
            F.round(
                F.sum(F.when(skipped, F.col("n_rows")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("n_rows"),
                6,
            ).alias("skip_ratio"),
        )
    )
