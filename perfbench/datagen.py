"""Seeded benchmark inputs in the catalog's table layout.

The catalog queries read ten tables, one parquet file each, from a
directory (``<dir>/<table>.parquet``).  This module makes such
directories from nothing but numpy, so the benchmark needs no external
data set:

* ``base`` -- a fixed, deterministic data set shaped like the TPC-H-ish
  sf0.1 tier the catalog is tested on: uniform keys, the same value
  domains, 5000 documents of which 5% are planted near-duplicates, and
  2000 unit-norm 64-d embeddings.
* ``x<k>`` -- ``k`` replicas of customer / supplier / part / orders /
  lineitem with per-replica key offsets (15000 / 1000 / 20000 / 150000),
  so every replica is a disjoint copy of the same join graph.  The other
  five tables are copied from ``base``.

A tier's *content* never depends on the run's seed.  The seed only sets
the row order of every table: :func:`seeded_inputs` writes a permuted
copy of the tier per seed, checks key uniqueness and foreign-key closure
on it, and records the SHA-256 of each file so that the same seed can be
shown to regenerate identical bytes.  Because content is seed-free, the
DuckDB oracle answer for a query is a function of the tier alone, which
is what lets the runner cache oracle results across seeds.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# Tables replicated by the x<k> tiers, their key columns, and the offset
# added to each kind of key per replica.
KEY_OFFSETS = {"custkey": 15000, "suppkey": 1000, "partkey": 20000, "orderkey": 150000}
REPLICA_KEYS = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey", "l_suppkey": "suppkey"},
}
# Bump when the generated content changes; it is part of every cache key.
DATA_VERSION = "perfbench-data-v1"
BASE_SEED = 20261017
# Seed directories kept per tier; an x4 directory is about 65 MB.
KEEP_SEEDS = 2

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_LINEITEM = 15000, 1000, 20000, 150000, 600000
N_EVENTS, N_DOCS, N_DUP_DOCS, N_EXACT_DUPS, N_VECS, DIM = 100000, 5000, 250, 8, 2000, 64

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def _ts(start: str, offsets_s: np.ndarray) -> pa.Array:
    base_us = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base_us + offsets_s.astype(np.int64) * 1_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _base_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(BASE_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(np.array(_ADJ)[rng.integers(0, 8, N_PART)], " "),
            np.array(_NOUN)[rng.integers(0, 8, N_PART)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, N_PART).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, N_PART), 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        # 1995-01-01 .. 2001-08-01, whole days
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, N_ORDERS) * 86400),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        # 1995-01-02 .. 2001-11-04, whole days
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, N_LINEITEM) * 86400),
    })
    # strictly increasing event timestamps over 30 days, no ties
    gaps = rng.integers(1_000_000, 50_840_000, N_EVENTS)  # microseconds
    ts_us = np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps)
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, N_EVENTS),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    texts = []
    for _ in range(N_DOCS - N_DUP_DOCS):
        texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), rng.integers(10, 100))]))
    # near-duplicates: an earlier document with ~5% of its words replaced
    for _ in range(N_DUP_DOCS - N_EXACT_DUPS):
        words = texts[rng.integers(0, N_DOCS - N_DUP_DOCS)].split(" ")
        for j in rng.integers(0, len(words), max(1, len(words) // 20)):
            words[j] = _WORDS[rng.integers(0, len(_WORDS))]
        texts.append(" ".join(words) + " dup")
    # exact duplicates of planted near-duplicates
    texts += [texts[-1 - int(i)] for i in rng.integers(0, N_DUP_DOCS - N_EXACT_DUPS, N_EXACT_DUPS)]
    order = rng.permutation(N_DOCS)
    texts = [texts[i] for i in order]
    t["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), N_DOCS)],
        "source": np.char.add("src", rng.integers(0, 20, N_DOCS).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
    })
    return t


def _replicate(table: pa.Table, name: str, k: int) -> pa.Table:
    parts = []
    for r in range(k):
        cols = {}
        for col in table.column_names:
            arr = table[col]
            kind = REPLICA_KEYS[name].get(col)
            if kind is not None:
                arr = pa.array(arr.to_numpy() + r * KEY_OFFSETS[kind], pa.int64())
            cols[col] = arr
        parts.append(pa.table(cols))
    return pa.concat_tables(parts).combine_chunks()


def tier_tables(tier: str) -> dict[str, pa.Table]:
    """Tables of a tier: ``base`` or ``x<k>`` (k replicas of ``base``)."""
    base = _base_tables()
    if tier == "base":
        return base
    if not tier.startswith("x") or not tier[1:].isdigit():
        raise ValueError(f"unknown tier {tier!r}; expected 'base' or 'x<k>'")
    k = int(tier[1:])
    return {n: _replicate(t, n, k) if n in REPLICA_KEYS else t for n, t in base.items()}


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _self_check(out_dir: str) -> dict[str, int]:
    """Key uniqueness and foreign-key closure; returns row counts."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in TABLES:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{out_dir}/{name}.parquet')")
        checks = {
            "unique keys": """
              SELECT (SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
                   + (SELECT count(*) - count(DISTINCT s_suppkey) FROM supplier)
                   + (SELECT count(*) - count(DISTINCT p_partkey) FROM part)
                   + (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
                   + (SELECT count(*) - count(DISTINCT doc_id) FROM documents)
                   + (SELECT count(*) - count(DISTINCT vec_id) FROM embeddings)
                   + (SELECT count(*) - count(DISTINCT event_id) FROM events)""",
            "foreign keys": """
              SELECT (SELECT count(*) FROM lineitem ANTI JOIN orders ON l_orderkey = o_orderkey)
                   + (SELECT count(*) FROM lineitem ANTI JOIN part ON l_partkey = p_partkey)
                   + (SELECT count(*) FROM lineitem ANTI JOIN supplier ON l_suppkey = s_suppkey)
                   + (SELECT count(*) FROM orders ANTI JOIN customer ON o_custkey = c_custkey)
                   + (SELECT count(*) FROM customer ANTI JOIN nation ON c_nationkey = n_nationkey)
                   + (SELECT count(*) FROM supplier ANTI JOIN nation ON s_nationkey = n_nationkey)
                   + (SELECT count(*) FROM nation ANTI JOIN region ON n_regionkey = r_regionkey)""",
        }
        for what, sql in checks.items():
            bad = con.sql(sql).fetchone()[0]
            if bad:
                raise RuntimeError(f"{out_dir}: {bad} rows violate {what}")
        return {n: con.sql(f"SELECT count(*) FROM {n}").fetchone()[0] for n in TABLES}
    finally:
        con.close()


def seeded_inputs(cache_root: str, tier: str, seed: int) -> tuple[str, dict]:
    """Directory holding ``tier`` with every table's rows in a seeded order.

    Built once per (tier, seed) and reused; at most ``KEEP_SEEDS`` seed
    directories per tier are kept, least recently used evicted first.
    Returns the directory and its manifest.
    """
    tier_root = os.path.join(cache_root, f"{DATA_VERSION}-{tier}")
    out_dir = os.path.join(tier_root, f"seed-{seed}")
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        os.utime(manifest_path)
        with open(manifest_path) as f:
            return out_dir, json.load(f)

    started = time.perf_counter()
    tmp_dir = out_dir + ".partial"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    os.makedirs(tmp_dir)
    rng = np.random.default_rng(seed)
    for name, table in tier_tables(tier).items():
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        pq.write_table(table, os.path.join(tmp_dir, f"{name}.parquet"))
    rows = _self_check(tmp_dir)
    manifest = {
        "data_version": DATA_VERSION,
        "tier": tier,
        "seed": seed,
        "rows": rows,
        "sha256": {n: _sha256(os.path.join(tmp_dir, f"{n}.parquet")) for n in TABLES},
        "build_s": round(time.perf_counter() - started, 3),
    }
    with open(os.path.join(tmp_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp_dir, out_dir)

    seeds = sorted(
        (d for d in os.listdir(tier_root) if d.startswith("seed-") and not d.endswith(".partial")),
        key=lambda d: os.path.getmtime(os.path.join(tier_root, d, "manifest.json"))
        if os.path.exists(os.path.join(tier_root, d, "manifest.json")) else 0.0,
    )
    for stale in seeds[:-KEEP_SEEDS]:
        shutil.rmtree(os.path.join(tier_root, stale), ignore_errors=True)
    return out_dir, manifest
