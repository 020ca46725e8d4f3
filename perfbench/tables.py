"""Seeded generator for the tables the declared queries read.

Writes the ten tables ``pbf_spark.queries`` expects (region nation
customer supplier part orders lineitem events documents embeddings) as
one single-row-group parquet file each, with the schemas, value ranges
and row ratios of the repository's TPC-H-like test tables. Row counts
scale with ``sf`` (lineitem ~6,000,000 x sf); the text and vector
tables keep a floor of 500 rows. The same (seed, sf) always gives the
same bytes.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector line table "
    "data agg value key stream window a spark part group big sort query fast the"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = np.array(["en"] * 11 + ["de"] * 3 + ["es"] * 4 + ["fr"] * 3 + ["zh"] * 4)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def build(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 50)
    n_li = max(int(6_000_000 * sf), 200)
    n_ev = max(int(1_000_000 * sf), 100)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp)),
        }
    )
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "new", "cold"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng.uniform(1000.0, 500_000.0, n_ord)),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(rng.uniform(900.0, 105_000.0, n_li)),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_li), pa.timestamp("us")),
        }
    )
    # events: increasing timestamps over 30 days, heavy-tailed values
    gaps = rng.exponential(1.0, n_ev)
    ts_us = np.cumsum(gaps) / gaps.sum() * (30 * 86_400e6 - 1e7)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("int64"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n_cust // 10, 15), n_ev), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.maximum(_money(rng.exponential(50.0, n_ev)), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # documents: random vocabulary text; a planted tail of near-duplicates
    # (an earlier text plus one token) so the dedup/LSH queries find pairs
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(k))]) for k in rng.integers(10, 100, n_doc)]
    for i in rng.choice(np.arange(n_doc // 2, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc // 2))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": _LANGS[rng.integers(0, len(_LANGS), n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def write(out_dir: str | Path, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    counts = {}
    for name, table in build(seed, sf).items():
        pq.write_table(table, out_dir / f"{name}.parquet", row_group_size=max(table.num_rows, 1))
        counts[name] = table.num_rows
    return counts
