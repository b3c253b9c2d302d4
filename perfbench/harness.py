"""Workload definitions and the statistics the benchmark reports.

Importing this module starts nothing and needs no Spark, so the
harness tests can use it directly.
"""

from __future__ import annotations

import hashlib
import math
import random

#: Each workload is a fixed list of registry keys, run as repeated
#: passes over that list by one client in a closed loop.
WORKLOADS: dict[str, tuple[str, ...]] = {
    # The reference's core use: short SQL over parquet paths.  DataFrame
    # construction plus catalog resolution is a large share of a pass
    # (q5 alone fires one schema-inference job per table it reads before
    # its action), so the catalog and build layers do most of the work
    # here and the operators layer does almost none.
    "olap_interactive": (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q6_forecast_revenue",
        "ev_tumbling_counts",
        "sketch_heavy_hitters",
        "cdc_merge_orders",
        "text_token_stats",
    ),
    # Writes beside reads: the reference's Write/FileSync, Glob and
    # ListFiles surface.  Schema inference is part of the contract for
    # fs_read_schema_merge and the CSV read, so a change that speeds
    # table reads but costs the write, listing or inference path shows
    # up here and not in olap_interactive.
    "fs_roundtrip": (
        "fs_write_parquet",
        "fs_partitioned_prune",
        "fs_compact_small_files",
        "fs_write_roundtrip",
        "fs_typed_roundtrip",
        "fs_read_schema_merge",
        "fs_read_csv",
        "fs_glob",
        "fs_ls",
        "fs_describe_tables",
    ),
}

#: samples that must lie beyond the reported tail percentile
TAIL_BEYOND = 10
#: Fewest per-query walls a timed sample may hold: the smallest n whose
#: tail percentile, (n - TAIL_BEYOND) / n, lies above the median.
MIN_SAMPLES = 2 * TAIL_BEYOND + 1


def pass_orders(keys: tuple[str, ...], seed: int):
    """Yield one key order per pass.  The seed sets the order and
    nothing else: every pass runs every key exactly once."""
    rng = random.Random(seed)
    while True:
        yield rng.sample(keys, len(keys))


def hd_quantile(xs: list[float], q: float, steps: int = 32) -> float:
    """Harrell-Davis estimate of quantile ``q``: a Beta((n+1)q,
    (n+1)(1-q))-weighted mean of the order statistics.

    A sample here mixes 8-10 keys of very different cost, so the plain
    order statistic at a given rank sits on a key boundary and jumps
    between neighbouring keys from run to run; the weighted mean moves
    smoothly.  It is nondecreasing in ``q``."""
    xs = sorted(xs)
    n = len(xs)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def pdf(t: float) -> float:
        if t <= 0.0 or t >= 1.0:
            return 0.0
        return math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t))

    weights = []
    for i in range(n):  # Simpson's rule over [i/n, (i+1)/n]
        lo, h = i / n, 1.0 / (n * steps)
        inner = sum((4 if k % 2 else 2) * pdf(lo + k * h) for k in range(1, steps))
        weights.append((pdf(lo) + inner + pdf(lo + steps * h)) * h / 3)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def latency_stats(walls: list[float]) -> dict:
    """p50 and tail of ONE sample of per-query walls.  The tail is the
    highest percentile with ``TAIL_BEYOND`` samples beyond it,
    (n - TAIL_BEYOND) / n; both are Harrell-Davis estimates, so
    tail > p50 whenever n >= MIN_SAMPLES."""
    n = len(walls)
    if n < MIN_SAMPLES:
        raise ValueError(f"need at least {MIN_SAMPLES} samples, got {n}")
    q_tail = (n - TAIL_BEYOND) / n
    return {
        "p50": hd_quantile(walls, 0.5),
        "tail": hd_quantile(walls, q_tail),
        "tail_pct": 100.0 * q_tail,
        "n": n,
    }


def _plain(v):
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        return v.item()
    return v


def digest(pdf) -> dict:
    """Row count plus a SHA-256 of the rows after the oracle's own
    canonicalisation (column-name sort, then row sort)."""
    from duckdb_hdfs_spark.oracle import _canon

    canon = _canon(pdf)
    h = hashlib.sha256(repr(list(canon.columns)).encode())
    for row in canon.itertuples(index=False, name=None):
        h.update(repr(_plain(row)).encode())
    return {"rows": len(canon), "sha256": h.hexdigest()}
