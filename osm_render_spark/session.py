"""SparkSession builder tuned for the engine.

Defaults are chosen for a single JVM (``local[N]``) but every knob is the
one we would set on a real 1000-executor cluster too:

* Sized to the host: ``N`` is the process's CPU affinity count and the
  driver heap half of ``MemTotal``, unless ``cpus=`` /
  ``SPARK_GRAFT_CPUS`` or ``extra_conf`` / ``SPARK_GRAFT_DRIVER_MEM``
  say otherwise.
* AQE on (runtime coalescing + skew-join splitting) — the reference has no
  skew handling at all (SURVEY.md §4); we rely on AQE plus explicit salting
  for hot tile cells.
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster this
  is overridden to ~2-3× total cores (AQE coalesces down).
* Arrow enabled — all custom kernels are pandas-on-Arrow (no per-row
  Python, per BASELINE.json input_hint). Arrow-UDF stages run one task
  per core (:func:`arrow_stage_partitions`).
* ``mapKeyDedupPolicy=LAST_WIN`` — required for the relation→way tag merge
  (J5): the reference merges relation tags *over* way tags
  (``addEntriesFromDictionary``, MapData.m:282), i.e. last write wins.
* Session timezone pinned to UTC so DuckDB-oracle comparisons are stable.
* Python workers import the package from any working directory:
  ``spark.executorEnv.PYTHONPATH`` puts the directory that holds it in
  front of the inherited ``PYTHONPATH`` (an ``extra_conf`` value wins).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_cpus() -> int:
    """CPUs this process may run on (its affinity set, not the machine's
    core count: a container or ``taskset`` can grant fewer)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API (macOS)
        return os.cpu_count() or 1


def _host_driver_mem() -> str:
    """Driver heap as half of the host's ``MemTotal``: in local mode the
    driver JVM hosts every executor, and the rest is left to the Python
    workers and the page cache."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "4g"
    return f"{max(1, kib // (2 * 1024 * 1024))}g"


def _worker_pythonpath() -> str:
    """This package's parent directory, then the inherited PYTHONPATH."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))


DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or _host_cpus())


def get_spark(
    app_name: str = "osm_render_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession."""
    n = cpus or DEFAULT_CPUS
    shuffle = shuffle_partitions or max(n, 8)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet: keep pushdown + dictionary decode on (the reference's PBF
        # format has delta+dictionary encoding natively; Parquet is our
        # equivalent — SURVEY.md §1.2).
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # spill-aware input sizing: ~128 MB splits keep a task's working set
        # well under executor memory even with wide image rows; at 100 TB
        # this bounds tasks at ~800k and AQE coalesces the small tail
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def arrow_stage_partitions(spark: SparkSession) -> int:
    """Partition count for an Arrow-UDF (``mapInPandas``) stage: one task
    per core. Each Python task costs ~0.1-0.2 s of worker hand-off and
    Arrow setup on top of its pixel work (a no-op one-task
    ``mapInPandas`` job: 217 ms vs 78 ms JVM-only, 4 vCPU), so any
    partition floor above the core count only adds a second task wave of
    overhead. Pass the count explicitly (``repartition(n, cols)``): a
    bare ``repartition(cols)`` lets AQE coalesce a few KB of row
    pointers to ONE partition and serialize the kernel."""
    return spark.sparkContext.defaultParallelism
