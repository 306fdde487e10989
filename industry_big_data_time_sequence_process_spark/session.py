"""SparkSession factory + idempotent per-session configuration.

Two entry paths:

- The DRIVER owns its own session and calls our ``queries()`` callables with
  it. We cannot choose its static (pre-JVM) conf, so everything we need is a
  *runtime-settable* SQL conf applied by :func:`configure` at the top of every
  operator (cheap, idempotent). Verified on Spark 4.1.2: all confs below are
  runtime-settable.
- Our own tests/bench build a session via :func:`get_session`, which first
  writes the Python worker shim (``worker_bootstrap``: frozen importers for
  Spark's own archives, vendored protobuf where it is missing) so the JVM
  it launches hands it to every worker. A session whose JVM started
  before that keeps plain workers.

Scale posture (SURVEY.md §4.2): these settings are for the local[N] test
harness. On a real cluster the same code runs unchanged; only
``shuffle.partitions`` (set ~2-3x total cores) and memory sizing move.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs every operator needs, applied to ANY session we
#: are handed (including the driver's).
RUNTIME_CONFS: dict[str, str] = {
    # Oracle parity: DuckDB timestamps are naive UTC (SURVEY.md App. A.1).
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries timestamp[ns]; Spark 4 refuses it unless nanos
    # are surfaced as long (SURVEY.md §1.2). Decode lives in sources/io.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for toPandas / pandas-UDF paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime re-planning: shuffle-partition coalescing + skew-join split.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs; safe to call per-operator (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by a custom session
            pass
    try:
        # 200 default shuffle partitions is pure scheduling overhead at test
        # scale; size to the session's actual parallelism ([MEASURED] in
        # SURVEY.md §4.2). At 100 TB this would be set to ~2-3x total cores.
        par = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(par, 4)))
    except Exception:  # pragma: no cover
        pass
    return spark


def get_session(app_name: str = "industry_big_data_time_sequence_process_spark",
                cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the shared local session for tests/bench.

    Cold JVM start is ~tens of seconds on this box — one session per process,
    never per query (SURVEY.md §4.2).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    # Write the worker sitecustomize shim BEFORE the JVM launches so Spark
    # Python workers inherit it through PYTHONPATH: it freezes the
    # importers of Spark's own archives and, where protobuf is missing,
    # vendors it (see worker_bootstrap).
    from .worker_bootstrap import bootstrap
    bootstrap()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.partitions", str(cpus))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
