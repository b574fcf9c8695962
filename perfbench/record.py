#!/usr/bin/env python3
"""Record perfbench/expected.json: the row count and canonical hash of
the expected output of each LLM-pipeline query over the stored sf0.1
``documents`` and ``embeddings`` tables.

    python3 perfbench/record.py

Oracle-paired queries record their DuckDB oracle's result (some oracles
take minutes, which is why they are not run per benchmark run). The
queries without an oracle record the engine's own output, which must
then stay bit-identical. Run it again only when datagen's tables change
(bump GENERATOR_VERSION) or a query's intended output changes.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import datagen  # noqa: E402
from workloads import LLM, SF  # noqa: E402


def main() -> None:
    import duckdb

    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.session import get_spark

    specs = all_queries()
    out = {}
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_record-") as tmp:
        sf_dir = os.path.join(tmp, "tables")
        datagen.write_tables(sf_dir, SF)
        spark = get_spark(
            "perfbench-record",
            cpus=len(os.sched_getaffinity(0)),
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        try:
            for name in LLM:
                t = time.perf_counter()
                df = specs[name].builder(spark, sf_dir)
                engine = check.canonical(df.columns, df.collect())
                if specs[name].oracle:
                    want = check.oracle_results(sf_dir, {name: specs[name].oracle})[name]
                    problem = check.diff(engine, want)
                    if problem:
                        raise SystemExit(f"{name}: engine output differs from the oracle: {problem}")
                    source = "oracle"
                else:
                    want, source = engine, "engine"
                out[name] = {**check.digest(want), "source": source}
                print(f"{name}: {out[name]} ({time.perf_counter() - t:.1f}s)", flush=True)
        finally:
            spark.stop()
    with open(check.EXPECTED_PATH, "w") as fh:
        json.dump(
            {"generator_version": datagen.GENERATOR_VERSION, "duckdb": duckdb.__version__,
             "queries": out},
            fh, indent=1, sort_keys=True,
        )
        fh.write("\n")


if __name__ == "__main__":
    main()
