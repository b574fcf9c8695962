"""Map and reduce functions of the shim workload, and their pure-Python
evaluation. Kept free of heavy imports: Spark's Python workers import
this module to unpickle the functions."""

from __future__ import annotations

from collections import defaultdict


def mr_map(x):
    """The reference unittest job: key by residue mod 9, value x*x."""
    yield (str(x % 9), x * x)


def mr_reduce(k, vs):
    return (k, max(vs))


def wc_map(line):
    for w in line.split():
        yield (w, 1)


def wc_reduce(k, vs):
    return (k, sum(vs))


def python_job(records, map_fcn=mr_map, reduce_fcn=mr_reduce) -> list:
    """Single-process evaluation: map, group by key, reduce."""
    groups: dict = defaultdict(list)
    for x in records:
        for k, v in map_fcn(x):
            groups[k].append(v)
    return [reduce_fcn(k, vs) for k, vs in groups.items()]


def python_word_count(path: str) -> list:
    with open(path) as fh:
        next(fh)  # header
        return python_job(fh, wc_map, wc_reduce)
