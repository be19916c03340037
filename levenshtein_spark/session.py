"""SparkSession factory with the engine's standard configuration.

Tuned for Arrow-batched Python UDF scoring and AQE-managed shuffles. On a
real cluster the same settings apply; only master/memory come from
spark-submit. Iceberg note (SURVEY.md §7): no iceberg-spark-runtime jar ships
in this sandbox, so table IO (levenshtein_spark.sources.tables) falls back to
plain Parquet in an Iceberg-like layout; when the jar is present the same
code path writes real Iceberg tables.
"""

from __future__ import annotations

import gc
import os

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string


def get_spark(
    app_name: str = "levenshtein_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    # 50k rows/batch doubles kernel scoring throughput vs 10k (424k vs 190k
    # pairs/s on the 406k-pair sf0.1 mix, best-of-3 fresh JVMs; 200k adds
    # nothing) — per-batch Python/Arrow overhead amortizes while peak worker
    # memory stays ~25 MB for two 256-byte string columns. The kernel chunks
    # internally by cell budget, so batch size never multiplies DP memory.
    arrow_batch_size: int = 50_000,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Executor Python workers must be able to import this package: in local
    # mode they inherit PYTHONPATH from the environment (not the driver's
    # sys.path); on a real cluster spark-submit --py-files does this instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 32
        except ValueError:
            n = 32
        shuffle_partitions = max(2 * n, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Arrow transport for pandas UDFs — the JVM<->Python boundary of the
        # scoring kernel; batch size bounds peak Python-worker memory.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_size))
        # AQE: runtime partition coalescing + skew-join splitting complement
        # (not replace) the explicit salting in operators/blocking.py.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Pin the session timezone so NTZ->LTZ casts, unix_timestamp(),
        # weekly truncation and watermark/session boundaries are host-TZ
        # independent (the DuckDB oracle twins compute in naive/UTC time).
        # user.timezone pins the JVM default for code paths that consult it
        # (e.g. legacy datetime parsing); applied at JVM launch in local mode.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """A small driver-side frame of ``rows`` (tuples) with the DDL schema
    ``ddl``, built from an Arrow table so that Spark plans it as a
    ``LocalRelation``. From a Python list it would be a Python RDD over
    ``defaultParallelism`` slices, which every query that joins the frame
    schedules and runs again."""
    schema = _parse_datatype_string(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.table([pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)


_SCOPED_CACHES: list = []


def scoped_persist(df):
    """``df.persist()`` registered for the per-query :func:`release_caches`.

    Queries persist helper stages (MinHash blocks, PQ codebooks, the
    range-partitioned projections behind ``global_rank``) that feed several
    plan branches or must keep one set of partition cuts. The contract is
    one release per query: call ``release_caches()`` once, after every
    DataFrame the query returned is fully materialized — never while a
    returned plan may still be evaluated."""
    df = df.persist()
    _SCOPED_CACHES.append(df)
    return df


def release_caches(*, include_pinned: bool = True) -> int:
    """End-of-query release: unpersist every :func:`scoped_persist` frame,
    then nudge the Python and JVM collectors so Spark's ContextCleaner
    reclaims the ``localCheckpoint`` blocks of frames that are now
    unreachable (checkpointed frames are not registered: their lineage is
    gone, so an unpersist would break any plan still referencing them).
    Returns the number of frames released.

    Every release is full: ``include_pinned`` accepts only ``True``, and
    ``False`` raises rather than being silently ignored."""
    if include_pinned is not True:
        raise ValueError("partial release was removed: call release_caches()")
    n = 0
    while _SCOPED_CACHES:
        _SCOPED_CACHES.pop().unpersist()
        n += 1
    gc.collect()  # drop py4j refs of dead DataFrames -> JVM side can free
    spark = SparkSession.getActiveSession()
    if spark is not None:
        try:
            spark.sparkContext._jvm.System.gc()  # lets ContextCleaner reap checkpoint RDDs
        except Exception:
            pass  # a stopped/stopping context is fine — nothing to reclaim
    return n


def warm_python_workers(spark: SparkSession, partitions: int | None = None) -> None:
    """Pay the one-time Python-worker fork/import cost up front.

    The first Arrow-batched UDF stage on a cold session forks one Python
    worker per core, each importing pandas/pyarrow (~35 s aggregate on 32
    cores). Running a trivial pandas UDF across all cores once moves that
    cost out of every measured/user query; workers are reused afterwards
    (spark.python.worker.reuse defaults to true).
    """
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def _warm(x: pd.Series) -> pd.Series:
        return x

    n = partitions or spark.sparkContext.defaultParallelism
    # sum() (not count()) so Catalyst can't prune the UDF column away —
    # a pruned warm-up never forks a single worker
    from pyspark.sql import functions as _F

    spark.range(n, numPartitions=n).select(_warm(col("id")).alias("w")).agg(
        _F.sum("w")
    ).collect()
