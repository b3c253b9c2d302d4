"""Deterministic sf0.1 input tables for the benchmark.

The benchmark reads and writes only inside its own checkout, so it
generates its inputs instead of reading a shared test-data directory.
The tables follow the repository's sf0.1 test schema and row counts
(customer 15k, orders 150k, lineitem 600k, events 100k, documents 5k,
embeddings 2k) with the same value ranges and the ~9% near-duplicate /
~0.2% exact-duplicate document structure that the dedup and text keys
depend on.  A fixed generator seed makes every checkout produce the
same rows, so the pinned output digests in ``digests.json`` hold; the
workload ``--seed`` never reaches this module.

    python3 perfbench/gendata.py OUT_DIR
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["large", "hot", "small", "cold", "dim", "bright", "plain", "fine"]
PNOUN = ["ring", "bolt", "screw", "nut", "washer", "pin", "rod", "cap"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "es", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)

DAY_US = 86_400_000_000
T0_US = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
SPAN_US = 30 * DAY_US  # the events window is 30 days


def _us(day: str) -> int:
    return int(np.datetime64(day, "us").astype("int64"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n_doc: int) -> list[str]:
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.09:
            words = texts[rng.integers(0, i)].split(" ")
            for _ in range(max(1, len(words) // 12)):
                j = rng.integers(5, len(words)) if len(words) > 5 else 0
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), rng.integers(8, 100))]))
    return texts


def tables() -> dict[str, pa.Table]:
    """Build every table in memory, in a fixed draw order."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_users, n_doc, n_emb = int(15_000 * SF), int(50_000 * SF), int(20_000 * SF)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    k = np.arange(n_cust, dtype="int64")
    out["customer"] = pa.table({
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })

    k = np.arange(n_supp, dtype="int64")
    out["supplier"] = pa.table({
        "s_suppkey": k,
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })

    k = np.arange(n_part, dtype="int64")
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    out["part"] = pa.table({
        "p_partkey": k,
        "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    })

    date0 = _us("1995-01-01")
    date_days = (_us("2001-08-02") - date0) // DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(date0 + rng.integers(0, date_days, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    ship0 = _us("1995-01-02")
    ship_days = (_us("2001-11-05") - ship0) // DAY_US
    qty = rng.integers(1, 51, n_li).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship0 + rng.integers(0, ship_days, n_li) * DAY_US),
    })

    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(np.sort(T0_US + rng.integers(0, SPAN_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
    })

    langs = np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]
    texts = _documents(rng, n_doc)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    # unit-norm 64-dim float32 vectors around 10 label centroids
    cent = rng.normal(size=(10, 64))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = cent[labels] * 2.0 + rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    return out


def generate(out_dir: str) -> None:
    """Write every table as ``OUT_DIR/<name>.parquet``.  The marker
    beside the directory (not in it: ``fs_ls`` lists the directory) is
    written last, so a half-written directory is rebuilt."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(_marker(out_dir), "w") as fh:
        fh.write("ok\n")


def _marker(out_dir: str) -> str:
    return out_dir.rstrip("/") + ".done"


def ready(out_dir: str) -> bool:
    return os.path.exists(_marker(out_dir))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit("usage: gendata.py OUT_DIR")
    generate(sys.argv[1])
