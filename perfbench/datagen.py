"""Input generation for the benchmark.

Two kinds of input:

- The ten engine tables, one parquet file each. ``documents`` and
  ``embeddings`` are the engine's own sf0.1 and sf0.001 test tables,
  kept under ``data/``: the dedup, n-gram, minhash and similarity
  queries depend on the real text and vector distribution. The eight
  relational tables (TPC-H-like star schema plus ``events``) are
  generated with a FIXED seed in the shape of the same test tables:
  same columns, types, row counts and value ranges.
- Seeded inputs (``--seed``): the shim's records and word file, and
  the densified copy of the relational tables.

Everything is written with numpy + pyarrow, before any clock starts.
The recorded expected outputs (``expected.json``) hold for these
tables only.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES_SEED = 42
# Bump when the generator's output changes: the recorded hashes in
# expected.json are keyed on it.
GENERATOR_VERSION = 2

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
STORED = ("documents", "embeddings")  # copied from DATA_DIR/sf<sf>/
NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "tiny"]
PART_NOUN = ["ring", "bolt", "widget", "anvil", "gear", "nut", "pipe", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Generator for one input stream of ``seed`` (any int)."""
    return np.random.default_rng([seed % (1 << 64), stream])


def _days(rng, n: int, lo: int, hi: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float) -> None:
    """Write the ten tables at scale factor ``sf`` (0.1 ≈ 600k lineitem;
    0.1 and 0.001 have stored LLM tables)."""
    os.makedirs(out_dir, exist_ok=True)
    for table in STORED:
        shutil.copyfile(os.path.join(DATA_DIR, f"sf{sf:g}", f"{table}.parquet"),
                        os.path.join(out_dir, f"{table}.parquet"))
    rng = _rng(TABLES_SEED, int(sf * 10_000))
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(NATIONS, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(NATIONS)],
        "n_regionkey": (np.arange(NATIONS) % 5).astype(np.int32)})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, NATIONS, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, NATIONS, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, 0, 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, 1, 2499)})
    start = np.datetime64("2024-01-01", "us")
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offsets,
        "user_id": rng.integers(0, max(int(15_000 * sf), 100), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


# Fact tables a densified copy multiplies, and the key each copy shifts
# so the copies stay disjoint (the tools/stress10x.py scheme); the other
# tables are linked unchanged.
DENSIFY_SHIFT = {
    "lineitem": ("l_orderkey", 10_000_000),
    "orders": ("o_orderkey", 10_000_000),
    "events": ("event_id", 100_000_000),
}
DENSIFY_COPY = ("region", "nation", "customer", "supplier", "part", "documents", "embeddings")


def write_densified(src_dir: str, out_dir: str, factor: int, seed: int) -> None:
    """``factor`` shifted copies of the fact tables, as tools/stress10x
    builds them. The seed shuffles row order within each copy, so the
    files (and the row groups the scans see) differ per seed while the
    query results stay a function of the data alone."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, factor)
    for table, (key, shift) in DENSIFY_SHIFT.items():
        base = pq.read_table(os.path.join(src_dir, f"{table}.parquet"))
        parts = []
        for i in range(factor):
            part = base.take(rng.permutation(base.num_rows))
            col = part.column(key)
            shifted = pc.add(col, pa.scalar(i * shift, col.type))
            parts.append(part.set_column(part.schema.get_field_index(key), key, shifted))
        pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, f"{table}.parquet"))
    for table in DENSIFY_COPY:
        os.link(os.path.join(src_dir, f"{table}.parquet"), os.path.join(out_dir, f"{table}.parquet"))


def shim_records(seed: int, n: int) -> list[int]:
    """Seeded integer records for the reference unittest job."""
    rng = _rng(seed, 1)
    return rng.integers(0, 1 << 30, n).tolist()


def write_word_file(path: str, seed: int, n_lines: int, n_keys: int) -> None:
    """Text file with a header line and ``n_lines`` lines of words
    drawn from ``n_keys`` distinct keys."""
    rng = _rng(seed, 2)
    words = np.array([f"w{i:05d}" for i in range(n_keys)])
    per_line = 8
    picks = words[rng.integers(0, n_keys, (n_lines, per_line))]
    with open(path, "w") as fh:
        fh.write("header line to skip\n")
        fh.write("\n".join(" ".join(row) for row in picks))
        fh.write("\n")
