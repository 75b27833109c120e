"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registry reads (``catalog.TABLES``) as one
parquet file each under ``<out>/sf<scale>/``, with the same schemas, key
ranges and value domains as the fixtures in FIXTURES.md: a TPC-H-like star
schema, an ``events`` stream, a ``documents`` corpus and 64-dimensional
unit ``embeddings``. Row counts scale with ``scale`` like the fixtures do
(lineitem ~6M x scale, events 1M x scale); the corpus tables have a floor
of 500 rows. The same seed writes the same rows.

Also writes ``lineitem.tsv``: the first eighth of the lineitem rows as a
headered TSV, the input of the reference ETL job
(``sources.reference_pipeline.convert``).

The directory is named ``sf<scale>`` because the registry derives its
session posture from that suffix (``registry._sf_of``).

Usage: python3 perfbench/datagen.py OUT_DIR --seed N --scale 0.02
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000


def _days_us(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = max(6_000, int(6_000_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(500, int(25_000 * scale))
    n_vec = max(500, int(20_000 * scale))
    i32 = pa.int32()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", n_line)),
        }
    )
    t0 = np.datetime64("2024-01-01", "us").astype("int64")
    span = 30 * _US_PER_DAY
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": _ts(t0 + np.sort(rng.integers(0, span, n_ev))),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, n_docs)
    vec = rng.standard_normal((n_vec, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype="int64"),
            "embedding": pa.array(list(vec.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), i32),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random token texts; one in fifty is a near-duplicate of an earlier
    document with a few tokens replaced by ``dup``, so the dedup rows have
    real pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.02:
            toks = texts[rng.integers(0, i)].split()
            for p in rng.choice(len(toks), min(3, len(toks)), replace=False):
                toks[p] = "dup"
        else:
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 101))]
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )


def write(out_dir: str, seed: int, scale: float) -> str:
    """Write every table under ``out_dir/sf<scale>``; return that path."""
    sf_dir = os.path.join(out_dir, f"sf{scale:g}")
    os.makedirs(sf_dir, exist_ok=True)
    tables = build_tables(seed, scale)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    lineitem = tables["lineitem"]
    pacsv.write_csv(
        lineitem.slice(0, lineitem.num_rows // 8),
        os.path.join(sf_dir, "lineitem.tsv"),
        pacsv.WriteOptions(delimiter="\t", quoting_style="none"),
    )
    return sf_dir


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, required=True)
    args = ap.parse_args()
    print(write(args.out_dir, args.seed, args.scale))


if __name__ == "__main__":
    main()
