"""Re-pin ``digests.json`` from an oracle-verified run.

Every workload key is first compared with its DuckDB oracle twin
(``duckdb_hdfs_spark.oracle.run_all``) over the benchmark's generated
tables; only if all match are the Spark outputs' digests written.
Run from a checkout root:

    python3 perfbench/pin_digests.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    sys.path[:0] = [os.getcwd(), HERE]
    import gendata
    from harness import WORKLOADS, digest

    from duckdb_hdfs_spark.oracle import run_all
    from duckdb_hdfs_spark.queries import load_all
    from duckdb_hdfs_spark.session import get_spark

    data = os.path.join(os.getcwd(), ".bench_build", "perfbench", "data", "sf0.1")
    if not gendata.ready(data):
        gendata.generate(data)
    keys = sorted({k for ks in WORKLOADS.values() for k in ks})
    spark = get_spark("perfbench-pin")
    spark.sparkContext.setLogLevel("ERROR")
    bad = [r for r in run_all(spark, data, keys) if not r.ok]
    if bad:
        for r in bad:
            print(r, file=sys.stderr)
        return 1
    registry = load_all()
    pins = {k: digest(registry[k].spark(spark, data).toPandas()) for k in keys}
    with open(os.path.join(HERE, "digests.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"pinned {len(pins)} oracle-verified digests")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
