"""The benchmark's workloads: each is a list of operations run through
the package's public API, with the inputs and expected outputs they
are checked against.

An operation's ``run`` is the timed region; its ``check`` runs after
the clock stops and returns "" when the output is right, else what is
wrong.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import check
import datagen
import jobs

SHIM_PARTS = 20  # num_mappers = num_reducers, the month-count job's shape
SHIM_RECORDS = 400_000
SHIM_DEFAULT_CHUNK_RECORDS = 30_000  # one map task per 1000 records
SHIM_FILE_LINES = 120_000
SHIM_FILE_KEYS = 10_000
SF = 0.1
WARM_SF = 0.001  # warm-up tables
WARM_SHIM_PARTS = 4  # warm-up num_mappers = num_reducers
DENSIFY = 4

RELATIONAL = (
    "asof_join_last_click",
    "join_customer_orders",
    "month_count",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_revenue",
    "window_topk_per_customer",
)
LLM = (
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard",
    "pipeline_clean_corpus",
    "similarity_topk_brute",
    "text_quality_score",
    "text_token_stats",
)


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], str]
    records: int = 0  # input records, for the shim's throughput


class Context:
    """What operations need at run time: the session and the tracer."""

    def __init__(self, spark, tracer):
        from ray_mapreduce_spark.engine import Engine

        self.spark = spark
        self.tracer = tracer
        self.engine = Engine

    def query(self, name: str, sf_dir: str):
        """Build a registered query; returns the unexecuted DataFrame."""
        with self.tracer.span("plans.build", "plans"):
            return self.engine(self.spark, sf_dir).query(name)


def _same_rows(want: list) -> Callable[[object], str]:
    want = sorted(want)

    def run_check(got) -> str:
        got = sorted(got)
        if got == want:
            return ""
        return f"{len(got)} rows, expected {len(want)}; first difference " + next(
            (f"{g!r} != {w!r}" for g, w in zip(got, want) if g != w), "in length"
        )

    return run_check


def _unchecked(result) -> str:
    return ""


def _digest_check(want: dict) -> Callable[[object], str]:
    def run_check(result) -> str:
        got = check.digest(check.canonical(*result))
        if (got["rows"], got["sha256"]) == (want["rows"], want["sha256"]):
            return ""
        return f"{got['rows']} rows sha256 {got['sha256'][:12]}, expected {want['rows']} rows {want['sha256'][:12]}"

    return run_check


class Workload:
    name = ""

    def prepare(self, work_dir: str, seed: int) -> None:
        """Generate inputs and expected outputs (before any clock)."""

    def ops(self, ctx: Context) -> list[Op]:
        raise NotImplementedError

    def warm_ops(self, ctx: Context) -> list[Op]:
        """The operations in a cheaper form (small inputs or few tasks)
        for the warm-up pass; outputs unchecked."""
        raise NotImplementedError


class ShimReference(Workload):
    """The reference's MapReduce API over seeded records and a word file."""

    name = "shim_reference"

    def prepare(self, work_dir: str, seed: int) -> None:
        self.records = datagen.shim_records(seed, SHIM_RECORDS)
        self.default_records = self.records[:SHIM_DEFAULT_CHUNK_RECORDS]
        self.words = os.path.join(work_dir, "words.txt")
        datagen.write_word_file(self.words, seed, SHIM_FILE_LINES, SHIM_FILE_KEYS)
        self.expected = jobs.python_job(self.records)
        self.expected_default = jobs.python_job(self.default_records)
        self.expected_words = jobs.python_word_count(self.words)

    def ops(self, ctx: Context) -> list[Op]:
        checks = (_same_rows(self.expected), _same_rows(self.expected_default),
                  _same_rows(self.expected_words))
        return self._ops(ctx, self.records, self.default_records, self.words, checks)

    def warm_ops(self, ctx: Context) -> list[Op]:
        # Few tasks: the per-task cost would make a warm-up at full task
        # count cost as much as a pass.
        return self._ops(ctx, self.records, self.default_records, self.words, (_unchecked,) * 3,
                         parts=WARM_SHIM_PARTS)

    def _ops(self, ctx: Context, records, default_records, words, checks, parts=SHIM_PARTS) -> list[Op]:
        from ray_mapreduce_spark import mapreduce

        spark, t = ctx.spark, ctx.tracer

        def bulk(data, **kw):
            return mapreduce.MapReduceBulk(
                data, jobs.mr_map, jobs.mr_reduce, parts, parts, spark=spark, **kw
            )

        def op(name, fn, chk, n):
            def run():
                with t.span(f"mapreduce.{name}", "mapreduce"):
                    return fn()

            return Op(name, run, chk, n)

        chunk = len(records) // parts
        return [
            op("bulk_list", lambda: bulk(records, max_chunk_size=chunk), checks[0], len(records)),
            op("bulk_combiner", lambda: bulk(records, max_chunk_size=chunk, combiner=max),
               checks[0], len(records)),
            op("bulk_generator", lambda: bulk((x for x in records), max_chunk_size=chunk),
               checks[0], len(records)),
            op("bulk_default_chunks", lambda: bulk(default_records), checks[1], len(default_records)),
            op("file_input", lambda: mapreduce.MapReduceWithOneFileInput(
                words, jobs.wc_map, jobs.wc_reduce, parts, parts,
                ignore_first_line=True, spark=spark), checks[2], SHIM_FILE_LINES),
        ]


class Queries(Workload):
    """The LLM-pipeline queries over the stored sf0.1 tables,
    collected, and the relational queries over a seeded densified copy,
    written to parquet and checked by reading the files back."""

    name = f"queries_llm_sf0.1_relational_x{DENSIFY}_write"

    def prepare(self, work_dir: str, seed: int) -> None:
        from ray_mapreduce_spark.plans import all_queries

        self.sf_dir = os.path.join(work_dir, "tables")
        datagen.write_tables(self.sf_dir, SF)
        self.dense_dir = os.path.join(work_dir, f"tables_x{DENSIFY}")
        datagen.write_densified(self.sf_dir, self.dense_dir, DENSIFY, seed)
        self.warm_dir = os.path.join(work_dir, "warm_tables")
        datagen.write_tables(self.warm_dir, WARM_SF)
        self.out_dir = os.path.join(work_dir, "out")
        expected = check.load_expected()
        if expected.get("generator_version") != datagen.GENERATOR_VERSION:
            raise SystemExit("perfbench/expected.json is stale: run perfbench/record.py")
        self.expected = expected["queries"]
        specs = all_queries()
        self.oracle = check.oracle_results(self.dense_dir, {n: specs[n].oracle for n in RELATIONAL})

    def _collected(self, ctx: Context, name: str, sf_dir: str, chk) -> Op:
        def run():
            with ctx.tracer.span(f"plans.{name}", "plans"):
                df = ctx.query(name, sf_dir)
                with ctx.tracer.span("plans.collect", "plans"):
                    return df.columns, df.collect()

        return Op(name, run, chk)

    def _written(self, ctx: Context, name: str, sf_dir: str, chk) -> Op:
        from ray_mapreduce_spark.sources import sinks

        path = os.path.join(self.out_dir, name)

        def run():
            with ctx.tracer.span(f"plans.{name}", "plans"):
                df = ctx.query(name, sf_dir)
                with ctx.tracer.span("plans.collect", "plans"):
                    sinks.write_parquet(df, path)
            return path

        return Op(name, run, chk)

    def _read_back(self, name: str) -> Callable[[str], str]:
        def run_check(path) -> str:
            import pyarrow.parquet as pq

            return check.diff(check.arrow_canonical(pq.read_table(path)), self.oracle[name])

        return run_check

    def ops(self, ctx):
        return [self._collected(ctx, n, self.sf_dir, _digest_check(self.expected[n])) for n in LLM] + [
            self._written(ctx, n, self.dense_dir, self._read_back(n)) for n in RELATIONAL
        ]

    def warm_ops(self, ctx):
        return [self._collected(ctx, n, self.warm_dir, _unchecked) for n in LLM] + [
            self._written(ctx, n, self.warm_dir, _unchecked) for n in RELATIONAL
        ]


WORKLOADS = {w.name: w for w in (ShimReference, Queries)}
