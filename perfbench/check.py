"""Output checks, run outside the timed region.

Query results are compared exactly against the DuckDB oracle with the
comparator of ``ray_mapreduce_spark.testing.compare_query``: same
column names, same row count, order-insensitive rows, and typed
equality of every value (an int never equals a float, floats compare
bit-exact up to NaN, and signed zeros differ).

Over the fixed tables the expected results are recorded as a row
count and canonical hash (``expected.json``, written by record.py):
the oracle's result where the query has one, else the engine's own.
"""

from __future__ import annotations

import hashlib
import json
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def canonical(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name; rows normalised, reordered to match and
    sorted, as compare_query aligns them."""
    from ray_mapreduce_spark.testing import _norm_row, _sort_key

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [_norm_row(tuple(r[i] for i in order)) for r in rows]
    out.sort(key=_sort_key)
    return [cols[i] for i in order], out


def diff(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str:
    """Empty string when the two canonical results agree, else the first
    difference."""
    from ray_mapreduce_spark.testing import _values_equal

    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"row count {len(gr)} != {len(wr)}"
    for i, (g, w) in enumerate(zip(gr, wr)):
        for c, gv, wv in zip(gc, g, w):
            if not _values_equal(gv, wv):
                return f"sorted row {i} column {c!r}: {gv!r} != {wv!r}"
    return ""


def arrow_canonical(tbl) -> tuple[list[str], list[tuple]]:
    """Canonical form of a pyarrow table."""
    cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    return canonical(list(tbl.schema.names), list(zip(*cols)) if cols else [])


def oracle_results(sf_dir: str, oracles: dict[str, str]) -> dict:
    """Canonical DuckDB result of each oracle SQL over the tables in
    ``sf_dir``."""
    from ray_mapreduce_spark.testing import DRIVER_SAFE_ORACLE_TYPES as SAFE, duckdb_connection

    con = duckdb_connection(sf_dir)
    try:
        out = {}
        for name, sql in oracles.items():
            tbl = con.execute(sql).fetch_arrow_table()
            bad = [f"{f.name}:{f.type}" for f in tbl.schema if str(f.type) not in SAFE]
            if bad:
                raise TypeError(f"{name}: oracle output types outside {sorted(SAFE)}: {bad}")
            out[name] = arrow_canonical(tbl)
        return out
    finally:
        con.close()


def digest(result: tuple[list[str], list[tuple]]) -> dict:
    """Row count and sha256 of a canonical result."""
    cols, rows = result
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()}


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)
