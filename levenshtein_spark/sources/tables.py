"""Table IO — Iceberg-first design with a Parquet fallback.

The pipeline writes every stage to a named table so it can resume
mid-pipeline. When an Iceberg catalog is configured (``spark.sql.catalog.*``
and the iceberg-spark-runtime jar on the classpath), tables go through
``writeTo(...).createOrReplace()``; otherwise the same layout lands as plain
Parquet directories under a warehouse path. This sandbox has no Iceberg jar
(verified: zero iceberg jars in pyspark/jars), so tests exercise the Parquet
path; the interface is identical either way.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType


def footer_schema(path: str) -> StructType:
    """The schema of the parquet table at ``path``, from one part file's
    footer: the Spark schema its writer stored, else (``write_arrow``
    files) its Arrow schema. A read given it runs no inference job."""
    schema = pq.read_schema(glob.glob(os.path.join(path, "part-*.parquet"))[0])
    spark_json = (schema.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    return StructType.fromJson(json.loads(spark_json)) if spark_json else from_arrow_schema(schema)


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class Warehouse:
    """Stage-table reader/writer: Iceberg when available, Parquet otherwise."""

    def __init__(self, spark: SparkSession, root: str, catalog: str | None = None):
        self.spark = spark
        self.root = root
        self.catalog = catalog if (catalog and iceberg_available(spark)) else None

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        if self.catalog:
            return self.spark.catalog.tableExists(f"{self.catalog}.{name}")
        return os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    def write(self, df: DataFrame, name: str) -> DataFrame:
        """Write ``df`` as ``name`` and return the table read back. The
        parquet read-back passes the schema just written, so Spark runs no
        schema-inference job over the new files."""
        if self.catalog:
            df.writeTo(f"{self.catalog}.{name}").createOrReplace()
            return self.read(name)
        df.write.mode("overwrite").parquet(self._path(name))
        return self.spark.read.schema(df.schema).parquet(self._path(name))

    def write_arrow(self, table: pa.Table, name: str) -> None:
        """Write a small driver-side table as parquet table ``name`` without
        a Spark job: the directory is emptied first, the data lands in one
        ``part-00000-<uuid>.parquet`` file, and ``_SUCCESS`` comes last so
        ``exists`` never sees a half-written table. Parquet warehouse only."""
        path = self._path(name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, f"part-00000-{uuid.uuid4()}.parquet"))
        open(os.path.join(path, "_SUCCESS"), "wb").close()

    def read(self, name: str) -> DataFrame:
        """Table ``name``; parquet is read with its :func:`footer_schema`."""
        if self.catalog:
            return self.spark.read.table(f"{self.catalog}.{name}")
        path = self._path(name)
        return self.spark.read.schema(footer_schema(path)).parquet(path)

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_cols: list[str],
        num_buckets: int = 32,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Write ``name`` hash-bucketed by ``bucket_cols`` — the co-located-
        join layout: a table bucketed on its join key exposes
        ``HashPartitioning(bucket_cols, num_buckets)`` to the planner, so
        joins and aggregations keyed on it skip their Exchange entirely.
        Write the per-id record table and the pair table bucketed on the
        same key and ``attach_pair_payload``-style joins become
        shuffle-free on the bucketed sides (verified against the physical
        plan in tests/test_warehouse.py).

        Iceberg path: the ``bucket(n, col)`` partition transform (hidden
        partitioning). Parquet path: a Spark bucketed table — metadata lives
        in the session catalog, so reads must go through ``read_bucketed``
        (``spark.table``), not raw paths; data still lands under the
        warehouse root. NOTE: without a persistent metastore (Hive/Iceberg)
        the parquet-path bucket metadata dies with the session — a resumed
        job in a new session sees plain parquet (correct data, no co-location).
        The resumable pipeline therefore keeps its stage checkpoints on
        ``write``/``read``; bucketing is the intra-job layout for the widest
        joins, and survives restarts only under a real catalog.
        """
        if self.catalog:
            from pyspark.sql.functions import bucket, col

            (
                df.writeTo(f"{self.catalog}.{name}")
                .partitionedBy(bucket(num_buckets, col(bucket_cols[0])))
                .createOrReplace()
            )
            return
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", self._path(name))
            .bucketBy(num_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(name)

    def read_bucketed(self, name: str) -> DataFrame:
        """Read a table written by ``write_bucketed`` WITH its bucket
        metadata (a raw path read would see plain parquet and re-shuffle)."""
        if self.catalog:
            return self.spark.read.table(f"{self.catalog}.{name}")
        return self.spark.table(name)
