"""SparkSession construction with scale-appropriate defaults.

The reference exposes two integer knobs (num_mappers / num_reducers,
reference mapreduce.py:139,151-152) and keeps all intermediates in
memory. Here the equivalents are read-partition sizing + shuffle
partitions, and Spark's spillable sort-based shuffle replaces the
in-memory buffers — so the same queries survive a 1000-executor /
100 TB deployment without code changes.

Conf rationale (tuned for correctness at local[32] and sanity at
cluster scale — every value is either Spark's scale-safe default or
an explicit override documented below):

- AQE on (+ coalescing + skew-join): at 100 TB, static shuffle
  partition counts are always wrong somewhere; AQE re-plans from
  runtime stats and splits skewed partitions.
- ``spark.sql.shuffle.partitions``: a floor for local runs; AQE
  coalesces down / splits up as needed. On a real cluster set this
  ~2-3x total cores via spark-submit; we keep it equal to local cores.
- Arrow enabled: every pandas-UDF path (dedup simhash, multimodal
  decode) transfers columnar Arrow batches, not pickled rows.
- Broadcast threshold left at default 10 MB: region/nation/supplier
  style dims broadcast automatically; query code adds explicit
  ``broadcast()`` hints where the dim is known-small regardless of
  stats (e.g. derived query-vector sets).
- ``spark.python.daemon.module`` = ``ray_mapreduce_spark._daemon``:
  every Python task calls ``importlib.invalidate_caches()``, which on
  Python < 3.13 re-reads each zip archive on the workers' path
  (``pyspark.zip``, the py4j zip, the spark-core JAR; ~16 importers).
  That cost 150-300 ms per task on 4 cores; the daemon re-reads only a
  changed archive, which takes ~0.1 ms per task. On 3.13+ it runs the
  stock daemon. The package root joins the workers' ``PYTHONPATH`` so
  the module imports from any working directory (local master only).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"


def get_spark(
    app_name: str = "ray_mapreduce_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults."""
    cpus = cpus or DEFAULT_CPUS
    extra_conf = dict(extra_conf or {})
    worker_path = os.pathsep.join(filter(None, [_PACKAGE_ROOT, extra_conf.pop(_WORKER_PATH, "")]))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "ray_mapreduce_spark._daemon")
        .config(_WORKER_PATH, worker_path)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
