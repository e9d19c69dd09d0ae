"""SparkSession factory with engine defaults.

Defaults are chosen for the local[32] test harness but every knob is the
one you would also set on a 1000-executor cluster:

- AQE on (runtime re-planning, skew-join splitting, shuffle coalescing);
- shuffle partitions sized to the parallelism at hand (cluster deployments
  should size this to 2-3x total cores, or rely on AQE coalescing);
- Arrow enabled so pandas_udf / mapInPandas stages stream columnar batches
  instead of pickled rows;
- session timezone pinned to UTC so timestamp semantics are stable across
  driver, executors, and the DuckDB correctness oracle;
- on a ``local`` / ``local[...]`` master, Python workers are forked by
  :mod:`faisssearcher_spark._daemon` (``spark.python.daemon.module``).

The worker daemon.  PySpark's worker calls ``importlib.invalidate_caches()``
before every task.  On CPython 3.10 / 3.11 that makes each ``zipimporter``
on the worker's ``sys.path`` eagerly re-parse its archive's central
directory (3.12 made it lazy, gh-103200), and that path holds
``pyspark.zip`` and the 37 MB ``spark-core`` jar (5,359 entries).  A reused
worker paid 0.15-0.2 s of every task for it: a 64-row ``mapPartitions``
started its function 0.26-0.29 s after submit, against 0.036 s for a
JVM-only ``collect`` of the same rows (4 cores, ``local[3]``, Python 3.11.7,
Spark 4.1.2).  ``_daemon`` re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed, which brings submit -> function start
to about 0.08 s; every Python stage (encoder ``pandas_udf``, whitening,
ANN ``mapInPandas`` kernels, the blocked / sharded / grid GEMM strategies)
saves that per task.

The conf is set only for local masters, where the ``PYTHONPATH`` that
:func:`get_spark` exports guarantees the workers can import the package.
On any other master Spark's default daemon is kept, because executors
without the package would fail every Python task.  To opt in on a cluster
whose executors can import the package (installed, or on their
``PYTHONPATH``), set ``spark.python.daemon.module`` to
``faisssearcher_spark._daemon`` at submit time.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Never silently produce a cartesian product by accident; the knn
    # operator requests its cross joins explicitly via crossJoin().
    "spark.sql.crossJoin.enabled": "true",
    # NOT set (r14, measured): spark.sql.join.preferSortMergeJoin=false
    # (guide §3.1 — let the planner pick shuffled-hash joins) read
    # neutral-to-worse on the join-heavy legs in interleaved iso pairs
    # with flat controls (ngram_jaccard 1.55→1.75, text_fingerprints
    # 5.34→6.13, curate 5.56→6.01): at this shape the sorts SMJ pays
    # are over AQE-coalesced tiny partitions while SHJ's per-partition
    # hash maps add allocation churn. Revisit on real cluster data.
}


# Masters whose Python workers inherit this process's PYTHONPATH.
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def get_spark(app_name: str = "faisssearcher_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Make this package importable inside Python workers regardless of the
    # driver script's cwd (workers unpickle UDF closures by module name).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for key, value in ENGINE_CONF.items():
        builder = builder.config(key, value)
    if _LOCAL_MASTER.fullmatch(master):
        builder = builder.config("spark.python.daemon.module",
                                 "faisssearcher_spark._daemon")
    return builder.getOrCreate()
