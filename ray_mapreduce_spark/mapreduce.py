"""Reference-compatible MapReduce API shim.

Drop-in signatures for the reference's three entry points
(reference mapreduce.py:139,167,176), implemented as the one-line
Spark pipeline the whole reference engine reduces to
(SURVEY.md §2a "whole-pipeline Spark equivalent"):

    parallelize/textFile -> flatMap(map_fcn)
      -> groupByKey(num_reducers) -> map(reduce_fcn) -> collect

Preserved semantic invariants (SURVEY.md §4.3):

1. grouping totality — every (k, v) with equal k reaches exactly one
   reduce call (Spark hash shuffle guarantees this);
2. holistic reduce — ``reduce_fcn(k, values)`` receives the fully
   materialized list (``groupByKey`` + ``list``, deliberately NOT
   ``reduceByKey``; reference mapreduce.py:132-133);
3. value order within a key is unspecified (reference arrival order is
   racy across mappers, mapreduce.py:120-128) — callers must treat
   value lists as multisets, as the reference's own tests do;
4. global output order is unspecified (reference concatenates in
   shard-then-insertion order, mapreduce.py:161-164) — callers sort;
5. zero/multi-emit map generators are honored (``flatMap``);
6. user-caught malformed input doesn't kill the job (U11 pattern runs
   inside the user generator unchanged).

Key-type contract: the reference's shipped sharder requires ``str``
keys (``key.encode``, reference mapreduce.py:68-71) while its tests
use ints — internally inconsistent (SURVEY.md §1.2). This shim
accepts any hashable key (Spark's portable hash partitioner) and
documents the superset; ``strict_keys=True`` opts into the
reference's str-only contract, raising on non-str keys like the
shipped sharder would.

Differences by design (not bugs): mapper->reducer pairing uses
Spark's hash, not sha256 — key *placement* differs, key *grouping*
is identical; intermediates spill to disk instead of living in actor
memory (the reference's acknowledged scale ceiling, reference
mapreduce.py:24-26,81-83); chunk scheduling is Spark's task
scheduler, so ``max_chunk_size``/``distribute_work_fcn`` only
influence partition counts. Both file entry points read through one
``sc.textFile`` call over literal paths, as the reference opens them
(commas and glob metacharacters are part of a name). The header skip
assumes one file, as the reference's does: a directory with
``ignore_first_line`` raises ``ValueError``. Input Hadoop cannot split
(.gz) is spread to ``num_mappers`` partitions before the map; splits
beyond ``max(num_mappers, defaultParallelism)`` (many small files) are
packed into that many tasks.
"""

from __future__ import annotations

import itertools
import math
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import SparkSession

from .session import get_spark
from .sources.text import read_index

MapFcn = Callable[[Any], Iterable[tuple[Any, Any]]]
ReduceFcn = Callable[[Any, list], Any]


CombinerFcn = Callable[[Any, Any], Any]


def _run(
    rdd,
    map_fcn: MapFcn,
    reduce_fcn: ReduceFcn,
    num_reducers: int,
    strict_keys: bool,
    combiner: CombinerFcn | None = None,
) -> list:
    if strict_keys:

        def mapper(record):
            for k, v in map_fcn(record):
                if not isinstance(k, str):
                    # Reference sharder behavior: non-str keys raise
                    # (key.encode on int -> AttributeError, mapreduce.py:70).
                    raise AttributeError(
                        f"strict_keys: reference sharder requires str keys, "
                        f"got {type(k).__name__}"
                    )
                yield (k, v)

        mapped = rdd.flatMap(mapper)
    else:
        # Default path: hand the user generator straight to flatMap —
        # the strict-keys wrapper adds a second Python generator layer
        # per record, a measurable per-element cost at millions of
        # records. flatMap itself already evaluates
        # chain.from_iterable(map(map_fcn, it)) in one tight loop.
        # Error-locality tradeoff: without the wrapper's per-element
        # (k, v) unpack, a map_fcn yielding malformed elements (e.g.
        # 3-tuples) errors inside shuffle serialization with a less
        # friendly traceback instead of at the mapper — that traceback
        # is a malformed-map-output bug, not a shuffle bug.
        mapped = rdd.flatMap(map_fcn)
    parts = max(int(num_reducers), 1)
    if combiner is not None:
        # Opt-in algebraic mode: the caller declares the reduction
        # associative+commutative by supplying the binary value-merge;
        # Spark then partial-aggregates MAP-SIDE (reduceByKey), so the
        # shuffle carries one value per (key, partition) instead of
        # every emitted pair — the difference between shuffling O(n)
        # and O(keys x partitions) at 100 TB. The reduce contract is
        # preserved by applying reduce_fcn to the singleton merged
        # list; the caller guarantees
        #   reduce_fcn(k, [fold(combiner, vs)]) == reduce_fcn(k, vs)
        # (true for max/min/sum/count-style reductions). Default path
        # below stays fully holistic.
        return (
            mapped.reduceByKey(combiner, numPartitions=parts)
            .map(lambda kv: reduce_fcn(kv[0], [kv[1]]))
            .collect()
        )
    return (
        mapped.groupByKey(numPartitions=parts)
        .map(lambda kv: reduce_fcn(kv[0], list(kv[1])))
        .collect()
    )


_MAX_PARTITIONS = 10_000
_BUFFER_ROWS = 100_000


def _input_rdd(sc, data_list: Iterable, num_mappers: int, max_chunk_size: int, dataset_size: int | None):
    """``MapReduceBulk``'s input as an RDD of
    ``max(min(ceil(n / chunk_size), 10_000), num_mappers, 1)`` partitions,
    where ``chunk_size = min(max_chunk_size, ceil(n / num_mappers))``
    (reference mapreduce.py:148-150) and ``n`` is ``dataset_size`` or the
    input length. List and unsized inputs get the same partition count
    and the same element order.
    """
    floor = max(int(num_mappers), 1)
    cap = max(_MAX_PARTITIONS, floor)
    sized = isinstance(data_list, (list, tuple, range))
    n = dataset_size if dataset_size is not None else len(data_list) if sized else None
    chunk_size = max(max_chunk_size if n is None else min(max_chunk_size, math.ceil(n / floor)), 1)
    if sized:
        # ``range`` stays unconverted: parallelize ships only
        # (start, stop, step) per partition and generates the elements
        # executor-side, instead of pickling each one through the driver.
        return sc.parallelize(data_list, min(max(math.ceil(len(data_list) / chunk_size), floor), cap))
    # Unsized iterables stream in buffers of whole chunks, one
    # parallelize call each, so the Python driver holds one buffer, not
    # the whole input. The serialized buffers still pile up in the JVM
    # driver until the job runs, as the list path's single call does.
    # Buffers hold >= 100k rows so a small max_chunk_size cannot turn
    # into thousands of py4j calls. With n unknown, a chunk_size above
    # n / num_mappers only matters through the num_mappers floor, which
    # the last buffer (detected by a one-element look-ahead) makes up.
    buf_rows = chunk_size * math.ceil(_BUFFER_ROWS / chunk_size)
    it = iter(data_list)
    rdds, total = [], 0
    buf = list(itertools.islice(it, buf_rows))
    while buf:
        ahead = list(itertools.islice(it, 1))
        slices = math.ceil(len(buf) / chunk_size)
        if not ahead:
            slices = max(slices, floor - total)
        slices = max(min(slices, cap - total), 1)
        rdds.append(sc.parallelize(buf, slices))
        total += slices
        buf = ahead + list(itertools.islice(it, buf_rows - 1))
    if not rdds:
        return sc.parallelize([], floor)
    rdd = rdds[0] if len(rdds) == 1 else sc.union(rdds)  # union keeps buffer order
    # Past the cap every further buffer added one partition; merge them back.
    return rdd.coalesce(cap) if total > cap else rdd


def MapReduceBulk(
    data_list: Iterable,
    map_fcn: MapFcn,
    reduce_fcn: ReduceFcn,
    num_mappers: int,
    num_reducers: int,
    max_chunk_size: int = 1000,
    dataset_size: int | None = None,
    distribute_work_fcn=None,
    spark: SparkSession | None = None,
    strict_keys: bool = False,
    combiner: CombinerFcn | None = None,
) -> list:
    """Reference ``MapReduceBulk`` (mapreduce.py:139-164).

    ``max_chunk_size``/``dataset_size`` reproduce the reference's
    partitioning arithmetic (chunk_size = min(max_chunk_size,
    ceil(n/num_mappers)), mapreduce.py:148-150) as a partition-count
    hint; ``distribute_work_fcn`` is accepted for signature parity but
    scheduling belongs to Spark (reference round-robins chunks,
    mapreduce.py:140-146 — same data-to-task totality, different
    placement). ``combiner`` opts into map-side partial aggregation
    (see ``_run``); omit it for reference-exact holistic reduces.
    """
    spark = spark or get_spark()
    rdd = _input_rdd(spark.sparkContext, data_list, num_mappers, max_chunk_size, dataset_size)
    return _run(rdd, map_fcn, reduce_fcn, num_reducers, strict_keys, combiner)


# Escapes Hadoop's glob metacharacters, so a path matches only itself,
# and writes textFile's path separator, the comma, as the group {\,}.
_LITERAL = str.maketrans({**{c: "\\" + c for c in "\\{}[]*?"}, ",": "{\\,}"})


def _text_rdd(sc, paths: list[str], num_mappers: int, ignore_first_line: bool = False):
    """The lines of ``paths``, each a literal path, in ``num_mappers`` to
    ``max(num_mappers, defaultParallelism)`` partitions.
    ``ignore_first_line`` drops the first line of partition 0, which is
    split 0 of ``paths[0]``: with one file, its header."""
    floor = max(int(num_mappers), 1)
    if not paths:
        return sc.parallelize([], floor)
    if ignore_first_line:
        path = sc._jvm.org.apache.hadoop.fs.Path(paths[0])
        if path.getFileSystem(sc._jsc.hadoopConfiguration()).isDirectory(path):
            raise ValueError(f"ignore_first_line needs one file, not a directory: {paths[0]}")
    rdd = sc.textFile(",".join(p.translate(_LITERAL) for p in paths), minPartitions=floor)
    if ignore_first_line:
        rdd = rdd.mapPartitionsWithIndex(lambda i, it: itertools.islice(it, int(i == 0), None))
    # textFile meets minPartitions on splittable input, but makes at least
    # one split per file: many small files are packed, without a shuffle,
    # into as many tasks as run at once. A file it cannot split (.gz) is
    # one partition, and input of fewer bytes than num_mappers has fewer
    # splits: those are spread to num_mappers.
    parts, most = rdd.getNumPartitions(), max(floor, sc.defaultParallelism)
    if parts > most:
        rdd = rdd.coalesce(most)
    elif parts < floor:
        rdd = rdd.repartition(floor)
    return rdd


def MapReduceWithOneFileInput(
    filename: str,
    map_fcn: MapFcn,
    reduce_fcn: ReduceFcn,
    num_mappers: int,
    num_reducers: int,
    max_chunk_size: int = 1000,
    ignore_first_line: bool = False,
    spark: SparkSession | None = None,
    strict_keys: bool = False,
    combiner: CombinerFcn | None = None,
) -> list:
    """Reference ``MapReduceWithOneFileInput`` (mapreduce.py:167-173).

    The reference streams every byte through the driver
    (smart_open on the driver feeding actor RPCs); here the read is
    executor-side and splittable. Lines arrive WITHOUT the trailing
    newline (Spark strips it; the reference keeps it — its test map
    fns ``int(data)`` tolerate both, reference
    mapreduce_unittest.py:6-8). ``filename`` is one literal path (or
    URI): glob metacharacters and commas are part of the name.
    ``ignore_first_line`` drops the file's first line, exactly, however
    many splits the file has; a directory with ``ignore_first_line``
    raises ``ValueError``, since a directory has no single first line.
    Input that cannot be split (.gz) is spread to ``num_mappers``
    partitions. ``max_chunk_size`` is accepted for signature parity.
    """
    spark = spark or get_spark()
    rdd = _text_rdd(spark.sparkContext, [filename], num_mappers, ignore_first_line)
    return _run(rdd, map_fcn, reduce_fcn, num_reducers, strict_keys, combiner)


def MapReduceWithMultipleFiles(
    index_filename: str,
    map_fcn: MapFcn,
    reduce_fcn: ReduceFcn,
    num_mappers: int,
    num_reducers: int,
    spark: SparkSession | None = None,
    strict_keys: bool = False,
    combiner: CombinerFcn | None = None,
) -> list:
    """Reference ``MapReduceWithMultipleFiles`` (mapreduce.py:176-187):
    an index file of one path per line; mappers read their own files.
    Spark reads the listed paths executor-side (data-local); only the
    tiny index transits the driver — same as the reference, minus the
    filename round-robin (Spark schedules splits with locality). Each
    listed path is literal, as the reference opens it: commas and glob
    metacharacters are part of the name. Input that cannot be split
    (.gz) is spread to ``num_mappers`` partitions, and many small files
    are packed into ``max(num_mappers, defaultParallelism)`` tasks; an
    empty index returns ``[]``."""
    spark = spark or get_spark()
    rdd = _text_rdd(spark.sparkContext, read_index(index_filename), num_mappers)
    return _run(rdd, map_fcn, reduce_fcn, num_reducers, strict_keys, combiner)
