"""Skew-mitigation operators (SURVEY.md §4).

AQE's skew-join splitting handles most runtime skew; these are the
explicit formulations for the cases AQE cannot fix:

- ``salted_agg``: high-cardinality aggregation where ONE key holds a
  large share of all rows (boilerplate documents, null-ish keys).  A
  plain groupBy sends the whole hot key to one reducer; salting
  splits it across ``n_salts`` reducers and a second (tiny) aggregate
  merges the partials.  Requires an algebraic aggregate (sum/count/
  min/max — anything with a merge function).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[tuple[str, Column, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage skew-proof aggregation.

    ``aggs`` is a list of ``(out_name, partial_expr, merge_fn_name)``:
    the partial aggregate runs per (key, salt) shard; the named
    ``pyspark.sql.functions`` aggregate merges the shards — e.g.
    ``("n", F.count(F.lit(1)), "sum")``, ``("total", F.sum("v"),
    "sum")``, ``("mx", F.max("v"), "max")``.  Only algebraic
    aggregates (those with a merge) are expressible — by design.

    The salt is uniform by construction (row id modulo n_salts), so
    the hot key's rows spread over ``n_salts`` reducers no matter how
    degenerate the key distribution is.
    """
    salted = df.withColumn(
        "__salt", (F.monotonically_increasing_id() % n_salts).cast("int")
    )
    stage1 = salted.groupBy(*keys, "__salt").agg(
        *[p.alias(f"__p_{name}") for name, p, _ in aggs]
    )
    return stage1.groupBy(*keys).agg(
        *[getattr(F, m)(f"__p_{name}").alias(name) for name, _, m in aggs]
    )

